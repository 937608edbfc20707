"""PySpark 4 Python DataSource for the YouTube channels API (SURVEY §2
S1: ``spark.read.format("youtube")``).

The reference fans out over channels in a sequential driver loop
(``dags/extract.py:146-148``); this source makes the fan-out Spark's
problem: **one input partition per channel**, so N channels fetch in
parallel across executors, and everything downstream is one DataFrame.

The fetch boundary is an OPTION, not a code swap:
``.option("mode", "fixture")`` (default) emits the deterministic
fixture payloads (``ytspark.sources.youtube``);
``.option("mode", "live").option("api_key", ...)`` issues the real
``channels().list`` HTTPS GET (``fetch_live``, stdlib urllib) with the
reference's exact part list. Either way the plan, partitioning, and
downstream lineage are identical. This sandbox has no egress, so tests
drive the live path through an injected fake transport.

Rows are ``(channel, tick, payload_json)`` — the raw-landing shape; use
``read_youtube`` for the parsed/typed view (from_json against the
declared API schema, then the same explode the batch path uses).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ytspark import schemas
from ytspark.sources.youtube import REFERENCE_CHANNEL_TITLES, channel_payload

SOURCE_NAME = "youtube"


class ChannelPartition(InputPartition):
    def __init__(self, title: str, tick: int):
        self.title = title
        self.tick = tick


YOUTUBE_API_URL = "https://www.googleapis.com/youtube/v3/channels"
# request parts exactly as the reference asks for them
# (dags/extract.py:78, dags/optimized_extract.py:18)
API_PARTS = "id,localizations,snippet,statistics,status,topicDetails"

# the reference's 7 live channel IDs (dags/extract.py:36-38) — the
# ``channels().list id=`` parameter takes UC… CHANNEL IDS, not display
# titles; titles silently return an empty items list. These are the
# live-mode default for the ``channels`` option (fixture mode keys its
# deterministic payloads by title instead).
REFERENCE_CHANNEL_IDS = (
    "UC-lHJZR3Gqxm24_Vd_AJ5Yw",
    "UC1gSyUP5QOZBebhlCObZ-0A",
    "UCq-Fj5jknLsUf-MWSy4_brA",
    "UCJcCB-QYPIBcbKcBQOTwhiA",
    "UCbCmjCuTUZos6Inko4u57UQ",
    "UCX6OQ3DkcsbYNE6H8uQQuVA",
    "UCY6KjrDBN_tIRFT_QNqQbRQ",
)


def _require_channel_ids(channels, mode: str) -> None:
    """Live mode takes UC… channel IDs; a display title would produce a
    silently-empty live response, so reject it loudly at plan time."""
    if mode != "live":
        return
    bad = [c for c in channels if not c.startswith("UC")]
    if bad:
        raise ValueError(
            f'mode="live" requires UC… channel IDs in the channels option '
            f"(channels().list id= ignores display titles and returns no "
            f"items); got {bad!r}. The reference's 7 IDs are the default "
            f"(REFERENCE_CHANNEL_IDS)."
        )


def fetch_live(
    channel_id: str, api_key: str, *, timeout: float = 30.0, transport=None
) -> dict:
    """REAL ``channels().list`` HTTPS GET (``dags/extract.py:69-83``),
    stdlib-only (urllib — no extra dependency). ``transport`` is the
    injectable seam: tests pass a fake ``urlopen``; production uses the
    real one. This sandbox has no egress, so the live path is verified
    against the fake transport only — the request construction (URL,
    parts, key) is the part worth testing anyway.

    Fails loudly when the response carries no ``items``: the API
    signals an unknown/invalid id that way (with HTTP 200), and
    landing empty payloads silently is exactly the failure mode the
    UC-id validation exists to prevent."""
    from urllib.parse import urlencode
    from urllib.request import urlopen as _urlopen

    opener = transport or _urlopen
    qs = urlencode({"part": API_PARTS, "id": channel_id, "key": api_key})
    with opener(f"{YOUTUBE_API_URL}?{qs}", timeout=timeout) as resp:
        payload = json.loads(resp.read().decode("utf-8"))
    if not payload.get("items"):
        raise RuntimeError(
            f"channels().list returned no items for id={channel_id!r} — "
            f"verify it is a UC… channel ID (not a title) and the API key "
            f"has quota"
        )
    return payload


def _fetch(
    title: str, tick: int, *, mode: str = "fixture", api_key: str | None = None
) -> dict:
    """The network boundary. ``mode="fixture"`` (default) emits the
    deterministic fixture payloads; ``mode="live"`` issues the real
    HTTPS GET — same payload shape either way, so the plan,
    partitioning, and downstream lineage are identical."""
    if mode == "live":
        if not api_key:
            api_key = _secret_api_key()
        if not api_key:
            raise ValueError(
                'mode="live" requires the api_key option or the '
                "googleAPI secret (ytspark.config.Secrets)"
            )
        _require_channel_ids([title], mode)
        return fetch_live(title, api_key)
    return channel_payload(title, tick=tick)


def _secret_api_key() -> str | None:
    """S7 fallback: the googleAPI secret via the provider chain
    (reference parity: dags/extract.py:140-145 pulls the same blob
    from AWS Secrets Manager when no key is passed explicitly)."""
    from ytspark.config import Secrets

    try:
        return Secrets().youtube_api_key()
    except KeyError:
        return None


class YouTubeReader(DataSourceReader):
    def __init__(self, options):
        self.mode = options.get("mode", "fixture")
        # live mode addresses channels by UC… id (what the API's id=
        # param accepts); fixture mode keys payloads by display title
        default = (
            REFERENCE_CHANNEL_IDS
            if self.mode == "live"
            else REFERENCE_CHANNEL_TITLES
        )
        raw = options.get("channels", ",".join(default))
        self.titles = [t for t in raw.split(",") if t]
        self.tick = int(options.get("tick", 0))
        self.api_key = options.get("api_key") or (
            _secret_api_key() if self.mode == "live" else None
        )
        if self.mode == "live" and not self.api_key:
            raise ValueError(
                'mode="live" requires the api_key option or the '
                "googleAPI secret (ytspark.config.Secrets)"
            )
        _require_channel_ids(self.titles, self.mode)

    def partitions(self):
        # one partition per channel: the reference's sequential loop
        # becomes cluster-parallel fetch fan-out (O3).
        return [ChannelPartition(t, self.tick) for t in self.titles]

    def read(self, partition: ChannelPartition):
        payload = _fetch(
            partition.title, partition.tick, mode=self.mode, api_key=self.api_key
        )
        yield (partition.title, partition.tick, json.dumps(payload))


class YouTubeStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the source: the reference's poll cadence
    (hourly / every-5-min re-runs of a batch DAG, ``dags/extract.py:
    196-197``, ``dags/optimized_extract.py:118``) becomes a REAL
    Structured Streaming source — the offset IS the poll tick, so each
    micro-batch fetches one snapshot per channel, checkpoint/restart
    resumes from the recorded tick, and replay between committed
    offsets is deterministic. Deterministic replay alone is
    at-least-once; the effectively-once guarantee comes from pairing it
    with an idempotent sink (``streaming.pipeline.
    write_batch_idempotent``: bronze partitioned by ``ingest_batch``
    only, with ``channel_key`` a data column, and a replayed batch
    rewritten through dynamic partition overwrite)."""

    def __init__(self, options):
        self.mode = options.get("mode", "fixture")
        default = (
            REFERENCE_CHANNEL_IDS
            if self.mode == "live"
            else REFERENCE_CHANNEL_TITLES
        )
        raw = options.get("channels", ",".join(default))
        self.titles = [t for t in raw.split(",") if t]
        self.start_tick = int(options.get("tick", 0))
        self.api_key = options.get("api_key") or (
            _secret_api_key() if self.mode == "live" else None
        )
        if self.mode == "live" and not self.api_key:
            raise ValueError(
                'mode="live" requires the api_key option or the '
                "googleAPI secret (ytspark.config.Secrets)"
            )
        _require_channel_ids(self.titles, self.mode)

    def initialOffset(self) -> dict:
        return {"tick": self.start_tick}

    def _rows(self, tick: int):
        return [
            (t, tick, json.dumps(_fetch(t, tick, mode=self.mode, api_key=self.api_key)))
            for t in self.titles
        ]

    def read(self, start: dict):
        tick = start["tick"]
        return iter(self._rows(tick)), {"tick": tick + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # recovery replay: deterministic refetch of the committed range
        out = []
        for tick in range(start["tick"], end["tick"]):
            out.extend(self._rows(tick))
        return iter(out)


class YouTubeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return "channel string, tick int, payload_json string"

    def reader(self, schema) -> YouTubeReader:
        return YouTubeReader(self.options)

    def simpleStreamReader(self, schema) -> YouTubeStreamReader:
        return YouTubeStreamReader(self.options)


def register_youtube_source(spark: SparkSession) -> None:
    spark.dataSource.register(YouTubeDataSource)


def read_youtube(
    spark: SparkSession,
    channels: tuple[str, ...] = REFERENCE_CHANNEL_TITLES,
    *,
    tick: int = 0,
) -> DataFrame:
    """Typed view over the source: parse the raw payload against the
    declared API schema and explode to one row per channel item — the
    exact input shape ``ingest.transform_responses`` consumes."""
    register_youtube_source(spark)
    raw = (
        spark.read.format(SOURCE_NAME)
        .option("channels", ",".join(channels))
        .option("tick", str(tick))
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("payload_json"), schemas.API_RESPONSE).alias("resp")
    )
    return parsed.select("resp.*")

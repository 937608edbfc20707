"""Micro-batch ingestion pipelines (SURVEY §2 O1–O3): file-drop JSON
landing and the custom streaming DataSource, both through the shared
transform into partitioned bronze."""

from __future__ import annotations

import glob
import json
import os
import time

from ytspark.sources.youtube import REFERENCE_CHANNEL_TITLES, poll_tick
from ytspark.streaming.pipeline import run_microbatch_ingest, run_source_stream_ingest


def _slug(title: str) -> str:
    """The reference's channel slug (``dags/extract.py:115``)."""
    return "_".join(title.replace("-", " ").split("/")[0].split(" "))


def test_file_drop_ingest_available_now(spark, tmp_path):
    """Two poll ticks, each dropped as one file and ingested as its own
    availableNow micro-batch on one checkpoint → bronze has one row per
    (channel, tick), and each batch lands as ONE parquet file under its
    ``ingest_batch=<id>`` directory, with ``channel_key`` a data column."""
    payload_dir = str(tmp_path / "landing")
    os.makedirs(payload_dir)
    bronze = str(tmp_path / "bronze")
    for tick in range(2):
        with open(os.path.join(payload_dir, f"tick_{tick}.json"), "w") as f:
            for payload in poll_tick(tick=tick):
                f.write(json.dumps(payload) + "\n")
        q = run_microbatch_ingest(
            spark, payload_dir, bronze, str(tmp_path / "ckpt")
        )
        q.awaitTermination()
    out = spark.read.parquet(bronze)
    assert out.count() == 2 * len(REFERENCE_CHANNEL_TITLES)
    batch_dirs = glob.glob(bronze + "/ingest_batch=*")
    assert len(batch_dirs) == 2
    for d in batch_dirs:
        assert len(glob.glob(d + "/*.parquet")) == 1, d
        assert not glob.glob(d + "/channel_key=*"), d
    keys = {r["channel_key"] for r in out.select("channel_key").distinct().collect()}
    assert keys == {_slug(t) for t in REFERENCE_CHANNEL_TITLES}


def test_source_stream_ingest_two_ticks(spark, tmp_path):
    """The custom streaming DataSource drives the same transform:
    offsets advance one poll tick per micro-batch; bronze accumulates
    one snapshot per channel per tick."""
    bronze = str(tmp_path / "bronze")
    q = run_source_stream_ingest(
        spark,
        bronze,
        str(tmp_path / "ckpt"),
        channels="MrBeast,PewDiePie",
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(bronze).count()
            except Exception:
                n = 0
            if n >= 4:  # 2 channels × ≥2 ticks
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.read.parquet(bronze)
    assert out.count() >= 4
    # both channels landed, slugged channel_key column values
    keys = {r["channel_key"] for r in out.select("channel_key").distinct().collect()}
    assert {"MrBeast", "PewDiePie"} <= keys
    # every (channel, snapshot) is distinct — no replay dupes
    assert (
        out.select("channel_key", "subscriberCount").distinct().count() == out.count()
    )


def test_write_batch_idempotent_replay(spark, tmp_path):
    """Replaying a batch (same batch_id) must overwrite, not duplicate —
    the at-least-once foreachBatch replay becomes effectively-once."""
    from ytspark.ingest import ingest
    from ytspark.streaming.pipeline import write_batch_idempotent

    bronze = str(tmp_path / "bronze")
    b0 = ingest(spark, poll_tick(tick=0), ingest_ts="2026-01-01 00:00:00")
    b1 = ingest(spark, poll_tick(tick=1), ingest_ts="2026-01-01 01:00:00")
    write_batch_idempotent(b0, 0, bronze)
    write_batch_idempotent(b1, 1, bronze)
    n_before = spark.read.parquet(bronze).count()
    write_batch_idempotent(b1, 1, bronze)  # crash-recovery replay
    out = spark.read.parquet(bronze)
    assert out.count() == n_before
    # replay of batch 1 must not clobber batch 0's partitions
    assert out.where("ingest_batch = 0").count() == b0.count()


def test_rocksdb_state_store_matches_default_provider(spark, tmp_path):
    """The same stateful query (streaming dedup) must produce identical
    results under the RocksDB state store as under the default
    heap-backed provider — state backend is config, not logic."""
    from ytspark.streaming.queries import streaming_dedup_events
    from ytspark.streaming.state import (
        ROCKSDB_PROVIDER,
        current_state_store,
        use_rocksdb_state_store,
    )

    sf_dir = "/root/testdata/sf0.001"
    baseline = {
        tuple(r) for r in streaming_dedup_events(spark, sf_dir).collect()
    }
    use_rocksdb_state_store(spark)
    try:
        assert current_state_store(spark) == ROCKSDB_PROVIDER
        rocks = {
            tuple(r) for r in streaming_dedup_events(spark, sf_dir).collect()
        }
    finally:
        use_rocksdb_state_store(spark, enable=False)
    assert rocks == baseline
    assert len(rocks) > 0


def test_kafka_adapter_raises_actionable_error_without_connector(spark):
    import pytest

    from ytspark.streaming.kafka import read_kafka_json_stream

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        read_kafka_json_stream(
            spark, "localhost:9092", "events", "user_id BIGINT, v DOUBLE"
        )


def test_stream_side_bronze_to_mart_continuous(spark, tmp_path):
    """The whole reference pipeline streaming end to end: source stream
    -> idempotent bronze -> a SECOND streaming query reading bronze as
    a file stream and applying the SAME mart transform the batch path
    uses (facts.cast_projection) — asserting the streamed mart equals
    the batch mart over the same bronze."""
    from ytspark import facts
    from ytspark.ingest import ingest
    from ytspark.streaming.pipeline import write_batch_idempotent

    bronze = str(tmp_path / "bronze")
    for tick in range(3):
        write_batch_idempotent(
            ingest(spark, poll_tick(tick=tick),
                   ingest_ts=f"2026-01-01 0{tick}:00:00"),
            tick,
            bronze,
        )
    batch_bronze = spark.read.parquet(bronze)
    batch_mart = facts.build_mart(batch_bronze)

    stream = (
        spark.readStream.schema(batch_bronze.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(bronze)
    )
    mart_stream = facts.cast_projection(stream)
    q = (
        mart_stream.writeStream.format("memory")
        .queryName("mart_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("mart_stream_sink")
    assert streamed.count() == batch_mart.count() == 21
    key_cols = ["title", "timestamp", "view_count", "subscriberCount"]
    assert {tuple(r) for r in streamed.select(*key_cols).collect()} == {
        tuple(r) for r in batch_mart.select(*key_cols).collect()
    }


class TestTransformWithStateGate:
    def test_tws_gated_on_protobuf(self, spark, sf_dir):
        """transformWithStateInPandas is environment-gated: its Python
        state client needs google.protobuf, absent in this container.
        The probe must agree with reality; the NATIVE path must either
        run (protobuf present) or fail with the documented ImportError
        — never crash obscurely — and the REGISTERED query must run in
        both environments (falling back to the applyInPandasWithState
        twin, r8 verdict item 5)."""
        import pytest

        from ytspark.streaming.queries import (
            _tws_user_stats_native,
            streaming_tws_user_stats,
            transform_with_state_available,
        )

        try:
            from google.protobuf import descriptor  # noqa: F401

            has_pb = True
        except ImportError:
            has_pb = False
        assert transform_with_state_available() == has_pb
        if not has_pb:
            with pytest.raises(ImportError, match="protobuf"):
                _tws_user_stats_native(spark, sf_dir)
        out = streaming_tws_user_stats(spark, sf_dir)
        rows = {r["user_id"]: r for r in out.collect()}
        assert rows, "registered query must produce rows in any env"
        # spot-check one user's stats against a batch recompute
        from pyspark.sql import functions as F

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        uid = next(iter(rows))
        exp = events.filter(F.col("user_id") == uid).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("tv"),
            F.countDistinct("event_type").alias("nt"),
        ).first()
        got = rows[uid]
        assert got["n_events"] == exp["n"]
        assert got["n_event_types"] == exp["nt"]
        assert abs(got["total_value"] - exp["tv"]) < 1e-9

    def test_tws_fallback_is_batch_slicing_invariant(
        self, spark, sf_dir, tmp_path
    ):
        """r9 ADVICE: the fallback's append-mode cumulative emissions
        used to depend on the single-file source producing exactly one
        micro-batch — a multi-batch source yielded duplicate per-user
        rows with stale counts. Drive a deliberately 3-batch source
        through the same code path and assert the finalized result
        matches the batch recompute exactly (one row per user)."""
        from pyspark.sql import functions as F

        from ytspark.streaming.queries import _tws_user_stats_fallback

        events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id", "event_type", F.col("value").cast("double").alias("value"),
        )
        stage = str(tmp_path / "slices")
        # 3 slices by user_id mod 3 — most users land in ONE slice, but
        # slicing by event_id % 3 puts every user in EVERY batch; use
        # that to force multi-batch per-user emissions
        events.withColumn(
            "slice", F.monotonically_increasing_id() % 3
        ).write.partitionBy("slice").parquet(stage)
        schema = spark.read.parquet(f"{stage}/slice=0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/slice=*")
        )
        out = _tws_user_stats_fallback(spark, sf_dir, stream=stream)
        got = {r["user_id"]: r for r in out.collect()}
        exp = {
            r["user_id"]: r
            for r in events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("total_value"),
                F.countDistinct("event_type").alias("n_event_types"),
            )
            .collect()
        }
        assert set(got) == set(exp)
        assert len(got) == out.count()  # exactly one finalized row/user
        for uid, e in exp.items():
            g = got[uid]
            assert g["n_events"] == e["n_events"], uid
            assert g["n_event_types"] == e["n_event_types"], uid
            assert abs(g["total_value"] - e["total_value"]) < 1e-9, uid


class TestStatePartitionScoping:
    """r12 optimization: streaming queries pin the stateful shuffle to
    STREAM_STATE_PARTITIONS for the stream run only — the session's
    batch shuffle width must be restored afterwards, success or
    failure."""

    def test_restores_session_width_after_stream(self, spark, sf_dir):
        from ytspark.queries import registry
        from ytspark.streaming.queries import STREAM_STATE_PARTITIONS

        keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        saved = {k: spark.conf.get(k) for k in keys}
        # a batch session whose settings differ from the stream's pin
        # (state width, AQE off), so a missing restore is visible
        before = {keys[0]: str(STREAM_STATE_PARTITIONS + 1), keys[1]: "true"}
        try:
            for k, v in before.items():
                spark.conf.set(k, v)
            df = registry()["streaming_dedup_events"].fn(spark, sf_dir)
            assert {k: spark.conf.get(k) for k in keys} == before
            df.write.format("noop").mode("overwrite").save()
            assert {k: spark.conf.get(k) for k in keys} == before
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_restores_on_failure(self, spark):
        from ytspark.streaming.queries import (
            STREAM_STATE_PARTITIONS,
            _state_partitions,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            with _state_partitions(spark):
                assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                    STREAM_STATE_PARTITIONS
                )
                raise ValueError("boom")
        except ValueError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_repeat_calls_leave_no_temp_dirs(spark, sf_dir):
    """The events stream's stage dir and schema_evolution_read's parquet
    batches live in the per-process scratch dir: repeat calls reuse it
    and create no new ``ytspark_stream_*`` or ``tmp*`` dirs."""
    import tempfile

    from ytspark.queries import registry
    from ytspark.streaming.queries import _events_stream

    def temp_dirs():
        root = tempfile.gettempdir()
        return {
            d
            for pat in ("ytspark_stream_*", "tmp*")
            for d in glob.glob(os.path.join(root, pat))
        }

    evolve = registry()["schema_evolution_read"].fn

    def run():
        assert _events_stream(spark, sf_dir).isStreaming
        return evolve(spark, sf_dir).collect()

    first = run()
    before = temp_dirs()
    assert run() == run() == first
    assert temp_dirs() == before

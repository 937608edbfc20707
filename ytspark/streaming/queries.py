"""Streaming queries registered in the engine query surface.

Every query here runs a REAL Structured Streaming job (file-source
readStream over the events parquet, availableNow trigger, memory sink)
and returns the materialized result — each is constructed so its final
answer equals a batch-computable relation, so all are fully
oracle-checkable. This pins the streaming/batch unification the engine
claims (same semantics in both modes): tumbling windows + watermark
(hourly counts), sliding windows, session windows, stateful
deduplication (dropDuplicatesWithinWatermark), and an arbitrary
stateful operator via applyInPandasWithState.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytspark.plans.scale import concurrent_jobs
from ytspark.queries import register


def _events_stream(spark: SparkSession, sf_dir: str, max_files: int | None = None):
    """File-source stream over the events table (stage dir holds a
    symlink to the parquet file — the file source needs a directory).
    The stage dir is the per-process scratch dir of ``sf_dir``, so
    repeat calls reuse one dir instead of leaking one each.
    Returns the stream with ``ts`` normalized to TimestampType."""
    from ytspark.plans.scratch import scratch_dir

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stage = scratch_dir(f"stream_{sf_dir}")
    link = os.path.join(stage, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(path, link)
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.parquet(stage)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # watermarks require TIMESTAMP; session tz UTC makes the cast
        # wall-clock preserving (see load_tables)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


# State-store partition count for the streaming queries (r12
# optimization round, guide §2.2/§2.5 "size partitions to the data,
# not the session default"). Structured Streaming pins the stateful
# shuffle to spark.sql.shuffle.partitions at the FIRST batch — AQE
# never coalesces stateful exchanges — so every micro-batch pays one
# state-store commit (provider load, delta file, maintenance slot) per
# partition regardless of volume. State partitions should be sized to
# expected state volume/throughput, independently of the batch
# session's shuffle width: the default 8 covers the bench's ~100k-key
# states with headroom (measured: the warm streaming family drops
# 58.6s -> 40.3s at sf0.1, stream-stream join 10.0s -> 2.6s, with
# hash-identical results — stateful operator output is partition-count
# invariant); a production deployment sets
# SPARK_GRAFT_STREAM_STATE_PARTITIONS to its throughput-derived value
# (thousands at 100 TB/day), exactly like the batch-side
# SPARK_GRAFT_CPUS knob.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


# AQE inside stream runs (r13, guide §1.2 "configuration third"):
# stateful streaming plans ignore AQE by design, but foreachBatch tick
# bodies are BATCH plans, and on micro-batch-sized inputs AQE turns
# every exchange into its own job + re-planning round — the
# incremental-dedup tick ran 16 driver-sequenced jobs under AQE vs 3
# without, all to "optimize" a few-thousand-row batch whose shuffle
# width the _state_partitions pin already sizes. Off for the duration
# of a stream run, restored afterwards (batch queries keep session AQE).


class _state_partitions:
    """Context manager: pin spark.sql.shuffle.partitions to the
    streaming state width and turn AQE off for the duration of a
    stream run, restoring the session's batch settings afterwards
    (queries run sequentially, and the lazy batch post-processing of a
    memory sink executes after restore, so batch plans never see the
    streaming width)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.old_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
        )
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.old_aqe)
        return False


def _run_to_memory(windowed, sink: str, output_mode: str = "complete"):
    with _state_partitions(windowed.sparkSession):
        q = (
            windowed.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


@register(
    "streaming_hourly_counts",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Structured Streaming tumbling 1-hour window with 1-hour watermark "
        "over a file-source stream, availableNow trigger, memory sink — "
        "result provably equal to the batch rollup (oracle-checked).",
    tags=("streaming", "window", "aggregate"),
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir, max_files=8)
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    sink = f"stream_hourly_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(windowed, sink)
    return spark.table(sink).select(
        F.col("w.start").alias("hour"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_sliding_counts",
    oracle="""
SELECT DATE_TRUNC('hour', e.ts) - o.off * INTERVAL 1 HOUR AS window_start,
       e.event_type,
       COUNT(*) AS n_events
FROM events e CROSS JOIN (SELECT UNNEST([0, 1]) AS off) o
GROUP BY 1, 2
""",
    doc="Sliding window (2 h length, 1 h slide) over the event stream: "
        "each event lands in two overlapping windows. Oracle materializes "
        "the same two windows per event with an offset cross join.",
    tags=("streaming", "window", "aggregate"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = f"stream_sliding_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(windowed, sink)
    return spark.table(sink).select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )


@register(
    "streaming_session_windows",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM gaps GROUP BY user_id
""",
    doc="Native streaming session windows (session_window, 30-min gap) "
        "per user; a session closes when the NEXT event is >= gap away, "
        "matching the batch lag-based sessionization (strict-inequality "
        "edge: session_window merges only gaps strictly under 30 min).",
    tags=("streaming", "session", "stateful"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_in_session"))
    )
    sink = f"stream_session_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(sess, sink)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_in_session").alias("n_events"),
        )
    )


@register(
    "streaming_dedup_events",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
    doc="Stateful streaming deduplication: the stream is unioned with "
        "itself (every event arrives twice) and "
        "dropDuplicatesWithinWatermark on event_id restores exactly-once "
        "— final counts equal the plain batch counts.",
    tags=("streaming", "dedup", "stateful"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = f"stream_dedup_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(deduped, sink, output_mode="append")
    return spark.table(sink).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id,
       COUNT(*) AS n_attributed_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
GROUP BY p.event_id
""",
    doc="Stream-stream inner join with event-time range (click "
        "attribution: clicks in the hour before each purchase, same "
        "user). Both sides watermarked; the time-range condition bounds "
        "each side's join state. Joined rows land in an append sink; "
        "the per-purchase rollup equals the batch join (oracle-checked). "
        "Measured cost split (tools/streaming_floor.py, sf0.1, r7): a "
        "single-tick no-op memory-sink stream FLOORS at ~0.8s; the "
        "rest is the stateful symmetric-hash join itself (AQE is "
        "disabled in stateful streaming, so the join keeps the static "
        "32-partition shuffle; state-store checkpoint + watermark "
        "bookkeeping dominate at this SF and amortize with volume).",
    tags=("streaming", "join", "stateful"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "c_ts")
    sink = f"stream_ssjoin_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(joined, sink, output_mode="append")
    return spark.table(sink).groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_attributed_clicks")
    )


@register(
    "streaming_static_enrich_join",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    doc="Stream-static enrichment join: the event stream joins the "
        "static customer dimension (broadcast — the static side is "
        "planned per micro-batch like any batch join, no streaming "
        "state), then a running aggregate by (segment, event type). "
        "This is the reference pipeline's dimension-enrichment shape "
        "(Power BI over the mart) in streaming form; at scale the "
        "static dim refreshes per batch and stays broadcast-sized or "
        "becomes a shuffle join automatically.",
    tags=("streaming", "join", "aggregate"),
)
def streaming_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    stream = _events_stream(spark, sf_dir)
    cust = spark.read.parquet(_os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_mktsegment"
    )
    from ytspark.plans.scale import maybe_broadcast

    enriched = stream.join(
        maybe_broadcast(cust), stream.user_id == cust.c_custkey, "inner"
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    sink = f"stream_enrich_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(agg, sink)
    return spark.table(sink)


@register(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(value) AS max_value,
       MIN(value) AS min_value
FROM events
GROUP BY user_id
""",
    doc="Arbitrary stateful streaming operator via applyInPandasWithState: "
        "per-user running (count, max, min) state updated per micro-batch "
        "in an Arrow-batched kernel — the custom-operator escape hatch "
        "for semantics window/session aggregates can't express.",
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # single file + no maxFilesPerTrigger -> one micro-batch, so each
    # group emits exactly one (final) row into the append sink.
    stream = _events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, mx, mn = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            n += len(pdf)
            bmax = pdf["value"].max()
            bmin = pdf["value"].min()
            mx = bmax if mx is None else max(mx, bmax)
            mn = bmin if mn is None else min(mn, bmin)
        state.update((n, mx, mn))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx], "min_value": [mn]}
        )

    stats = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double, min_value double",
        stateStructType="n bigint, mx double, mn double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"stream_state_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(stats, sink, output_mode="append")
    return spark.table(sink)


from ytspark.operators.dedup import INCR_SPLIT, INCR_THRESHOLD, _pairs_oracle


@register(
    "streaming_incremental_dedup",
    # batch collapse: with within-batch pairing the accumulated pair set
    # is independent of micro-batch slicing and equals every
    # orientation-normalized pair involving at least one batch doc
    # (corpus ids < INCR_SPLIT <= batch ids, so exactly doc_hi >= INCR_SPLIT)
    oracle=_pairs_oracle(
        "poly",
        INCR_THRESHOLD,
        ("doc_lo", "doc_hi"),
        f"a.doc_id < b.doc_id AND b.doc_id >= {INCR_SPLIT}",
    ),
    doc="The 100 TB ingest-cadence dedup shape END TO END in streaming "
        "form: the corpus MinHash store bootstraps once (polynomial "
        "hash family), then a document stream (file source, one "
        "micro-batch per file) runs incremental_minhash_dedup inside "
        "foreachBatch — each tick signatures only its own batch, "
        "LSH-joins the stored band table at O(batch + candidates), "
        "pairs the batch against ITSELF too (within_batch=True, so "
        "same-tick duplicates are caught and the accumulated set is "
        "independent of micro-batch slicing), sinks its pairs to "
        "parquet (bounded executor-side writes — never a growing "
        "driver list), and APPENDS its signatures so the next tick "
        "sees this one. Certified by a batch-collapse DuckDB oracle: "
        "slicing-independence means the union of ticks equals the "
        "full recompute restricted to pairs touching the batch "
        "region. Streaming twin of dedup_minhash_incremental. "
        "Measured cost split (tools/streaming_floor.py, sf0.1, r7): "
        "the 4-tick no-op foreachBatch FLOOR is ~1.7s (~10%); the "
        "rest is per-tick kernel jobs. r12 cut the per-tick job "
        "count: the pairs-sink write IS the materialization (sink_fn "
        "mode — no separate eager checkpoint) and the two store "
        "appends (sigs, bands) run overlapped after it; the store "
        "bootstrap overlaps the stage write at setup (guide §2.6). "
        "Remaining cost is fixed per-job overhead at sf0.1 batch "
        "sizes, not data volume; it amortizes at production batch "
        "sizes. The band store writes one file per band per tick "
        "(repartition before partitionBy — without it each tick "
        "wrote 256 slivers and the store hit 1280 files by tick 4).",
    tags=("streaming", "dedup", "minhash", "incremental", "store"),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ytspark.operators.dedup import (
        incremental_minhash_dedup,
        persist_minhash_store,
    )
    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    root = scratch_dir(f"stream_incr_dedup_{sf_dir}")
    store = os.path.join(root, "store")
    stage = os.path.join(root, "stage")
    sink = os.path.join(root, "pairs")
    # the stream APPENDS to the store, so determinism across repeat
    # invocations requires a fresh bootstrap + stage + sink every run
    for d in (store, stage, sink):
        shutil.rmtree(d, ignore_errors=True)
    # four range-sliced files -> four micro-batches with
    # maxFilesPerTrigger=1: ticks see each other through the store.
    # Store bootstrap and stage write share no data — overlap them
    # (guide §2.6).
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    concurrent_jobs(
        lambda: persist_minhash_store(
            docs.where(F.col("doc_id") < INCR_SPLIT), store
        ),
        lambda: batch.repartitionByRange(4, "doc_id").write.parquet(stage),
    )
    schema = spark.read.parquet(stage).schema

    def tick(batch_df, batch_id):
        # sink_fn mode: the pairs-sink append IS the materialization
        # (one computation instead of checkpoint-then-rewrite), and the
        # two store appends run overlapped after it
        incremental_minhash_dedup(
            spark, batch_df, store, threshold=INCR_THRESHOLD, append=True,
            within_batch=True,
            sink_fn=lambda pairs: pairs.select(
                F.least("new_doc_id", "existing_doc_id").alias("doc_lo"),
                F.greatest("new_doc_id", "existing_doc_id").alias("doc_hi"),
                F.col("est_jaccard"),
            ).write.mode("append").parquet(sink),
        )

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .select("doc_lo", "doc_hi", "est_jaccard")
        .dropDuplicates(["doc_lo", "doc_hi"])
    )


from ytspark.operators.maintenance import _CDC_ORACLE


@register(
    "streaming_cdc_apply",
    oracle=_CDC_ORACLE,  # the BATCH collapse of the same log
    doc="Streaming MERGE: the events changelog arrives in four "
        "micro-batches (file source, maxFilesPerTrigger=1) and "
        "foreachBatch folds each batch into a keyed store via "
        "collapse + associative state merge (op counts add, the "
        "seq-latest payload wins; tombstones stay in the store so a "
        "later upsert resurrects the key with its full op count). "
        "Each tick costs O(batch + store) here — with a transactional "
        "table format the merge is MERGE INTO at O(batch + touched "
        "partitions). Because the merge is associative and "
        "commutative over a total seq order, the final state is "
        "independent of micro-batch slicing and equals the BATCH "
        "collapse of the whole log — certified by sharing "
        "cdc_apply_changelog's DuckDB oracle, hash and all.",
    tags=("streaming", "maintenance", "cdc", "incremental"),
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ytspark.operators.maintenance import (
        collapse_changelog,
        merge_changelog_states,
    )
    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    stage = os.path.join(scratch_dir(f"stream_cdc_{sf_dir}"), "stage")
    shutil.rmtree(stage, ignore_errors=True)
    log.repartitionByRange(4, "event_id").write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    key, seq = ["user_id"], ["ts", "event_id"]
    state = {"df": None}

    def tick(batch_df, batch_id):
        collapsed = collapse_changelog(batch_df, key, seq)
        merged = (
            collapsed
            if state["df"] is None
            else merge_changelog_states(state["df"], collapsed, key, seq)
        )
        # eager checkpoint: each tick's state is materialized once and
        # the lineage stays O(1) per tick instead of growing unboundedly
        state["df"] = merged.localCheckpoint(eager=True)

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = state["df"]
    return final.where(F.col("_last.op") != "D").select(
        "user_id",
        "n_ops",
        F.col("_last.ts").alias("last_ts"),
        F.col("_last.value").alias("last_value"),
    )


from ytspark.operators.sketch import _CMS_ORACLE  # noqa: E402


@register(
    "streaming_cms_heavy_hitters",
    oracle=_CMS_ORACLE,
    doc="STREAMING Count-Min heavy hitters: the event stream arrives "
        "in micro-batches (maxFilesPerTrigger=1 over a 4-file stage), "
        "each foreachBatch tick sketches ONLY its own batch (one "
        "explode + (row, col) count) and merges into the running "
        "sketch by COUNTER ADDITION — the mergeability that lets a "
        "1000-executor cluster maintain rolling heavy-hitter state "
        "without rescanning history, here exercised through the real "
        "Structured Streaming machinery with an eager localCheckpoint "
        "keeping per-tick lineage O(1). Because counter merge is "
        "exact integer addition (order-free), the streamed sketch is "
        "BIT-IDENTICAL to the batch sketch, so this query shares "
        "cms_heavy_hitters' full-replay SQL oracle — the hash match "
        "certifies the incremental maintenance path end to end, "
        "serving included (top-20 by estimate beside exact counts "
        "and the always-nonnegative overcount).",
    tags=("streaming", "sketch", "approx", "aggregate"),
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ytspark.operators.sketch import CMS_TOP_K, _cms_hashes_col
    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "user_id", "event_id"
    )
    stage = os.path.join(scratch_dir(f"stream_cms_{sf_dir}"), "stage")
    shutil.rmtree(stage, ignore_errors=True)
    ev.repartitionByRange(4, "event_id").write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    state = {"df": None}
    hashes = _cms_hashes_col("user_id")

    def tick(batch_df, batch_id):
        part = (
            batch_df.select(F.explode(hashes).alias("h"))
            .groupBy(F.col("h.r").alias("r"), F.col("h.col").alias("col"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        merged = (
            part
            if state["df"] is None
            else state["df"]
            .unionByName(part)
            .groupBy("r", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )
        state["df"] = merged.localCheckpoint(eager=True)

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    counters = state["df"]

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    keyed = exact.select(
        "user_id", "exact_cnt", F.explode(hashes).alias("h")
    ).select("user_id", "exact_cnt", "h.r", "h.col")
    est = (
        keyed.join(counters, ["r", "col"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        est.select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.col("est_cnt").desc(), "user_id")
        .limit(CMS_TOP_K)
    )


def transform_with_state_available() -> bool:
    """Spark 4's transformWithStateInPandas needs ``google.protobuf``
    in the Python workers (its state client speaks protobuf to the
    JVM); this container does not ship it and has no network to
    install it — the same class of environment blocker as
    Delta/Iceberg jars and the JDBC driver (see SCALE.md). The
    implementation below is real and runs wherever protobuf exists;
    ``tests/test_streaming_pipeline.py`` probes this gate."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _tws_user_stats_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via Spark 4's transformWithStateInPandas:
    a StatefulProcessor with a ValueState (count + integer-cents value
    sum — exact under any merge order) and a MapState keyed by
    event_type (the per-key-set state shape). One micro-batch over the
    static file makes the append output deterministic; requires the
    RocksDB state store provider and protobuf in the Python workers
    (``transform_with_state_available``)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf in the "
            "Python workers (absent in this environment — see "
            "transform_with_state_available)"
        )
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = _events_stream(spark, sf_dir)

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # value sum in integer CENTS: exact under any merge order
            self.totals = handle.getValueState(
                "totals", "n bigint, cents bigint"
            )
            self.types = handle.getMapState(
                "types", "t string", "seen smallint"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, cents = 0, 0
            if self.totals.exists():
                n, cents = self.totals.get()
            for pdf in rows:
                n += len(pdf)
                # per-ELEMENT rounding to cents (each 2dp value is
                # half-ulp-exact), then integer sum: order-invariant,
                # no accumulated float error
                cents += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
                for t in pdf["event_type"].unique():
                    self.types.updateValue((str(t),), (1,))
            self.totals.update((n, cents))
            n_types = sum(1 for _ in self.types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                    "n_event_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    stats = stream.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType=(
            "user_id bigint, n_events bigint, total_value double, "
            "n_event_types bigint"
        ),
        outputMode="Append",
        timeMode="None",
    )
    sink = f"stream_tws_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(stats, sink, output_mode="append")
    # same batch-slicing finalization as the fallback twin: keep each
    # user's max-n_events (final cumulative) row
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def _tws_user_stats_fallback(
    spark: SparkSession, sf_dir: str, stream: DataFrame | None = None
) -> DataFrame:
    """Protobuf-free twin of ``_tws_user_stats_native``: the SAME state
    semantics (ValueState count + integer-cents sum; MapState of seen
    event types) expressed through ``applyInPandasWithState``, whose
    pickled-struct state client needs no protobuf. The MapState becomes
    a seen-types array in the tuple state — same bounded cardinality
    (event_type is a 5-value enum), same per-micro-batch merge.

    Append mode emits one CUMULATIVE row per key per micro-batch, so a
    multi-batch source yields several rows per user, the last one
    final (r9 ADVICE: this used to silently depend on _events_stream's
    single-file source producing exactly one batch). The finalization
    below keeps only each user's max-``n_events`` row — cumulative
    counts strictly increase whenever a user has rows in a batch, so
    that row IS the final state and the result is batch-slicing-
    invariant by construction. ``stream`` is injectable so tests can
    drive a deliberately multi-batch source through the same path."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if stream is None:
        stream = _events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, cents, seen = (
            state.get if state.exists else (0, 0, [])
        )
        seen = set(seen or [])
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
            seen.update(str(t) for t in pdf["event_type"].unique())
        state.update((n, cents, sorted(seen)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "n_event_types": [len(seen)],
            }
        )

    stats = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint, total_value double, "
            "n_event_types bigint"
        ),
        stateStructType="n bigint, cents bigint, seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"stream_tws_fb_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(stats, sink, output_mode="append")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


@register(
    "streaming_tws_user_stats",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM events
GROUP BY user_id
""",
    doc="Spark 4 transformWithStateInPandas user stats (ValueState "
        "count + integer-cents sum, MapState of event types, RocksDB "
        "provider) where google.protobuf is available; in protobuf-"
        "free environments the identical state semantics run through "
        "applyInPandasWithState with pickled-struct state (the r8 "
        "verdict's prescribed re-expression). Both paths are exact: "
        "per-element cent rounding then integer sums, so the value "
        "total is order- and batch-slicing-invariant.",
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    if transform_with_state_available():  # pragma: no cover - needs protobuf
        return _tws_user_stats_native(spark, sf_dir)
    return _tws_user_stats_fallback(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming data-quality monitor: additive constraint counters per batch
# ---------------------------------------------------------------------------


@register(
    "streaming_dq_monitor",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       CAST(SUM(CASE WHEN value < 0 OR value > 10000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_range,
       CAST(SUM(CASE WHEN event_type NOT IN
                     ('view', 'click', 'purchase', 'signup', 'error')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type,
       ROUND(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS null_rate,
       CAST(4 AS BIGINT) AS n_batches,
       SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
         AND SUM(CASE WHEN value < 0 OR value > 10000
                  THEN 1 ELSE 0 END) = 0
         AND SUM(CASE WHEN event_type NOT IN
                      ('view', 'click', 'purchase', 'signup', 'error')
                  THEN 1 ELSE 0 END) = 0 AS all_clean
FROM events
""",
    doc="STREAMING DQ MONITOR: the constraint-suite counters "
        "maintained over a micro-batched stream (file source, one "
        "batch per file, foreachBatch) — each tick computes its "
        "batch's null/range/domain violation counts with ONE "
        "aggregate and ADDS them into the running totals (counters "
        "are additive, so the monitor state is a handful of integers "
        "regardless of stream length — the Deequ-on-streams shape). "
        "After the availableNow drain, the accumulated totals must "
        "equal the batch recompute over everything streamed: the "
        "batch-collapse certification that slicing into micro-batches "
        "cannot change what the monitor reports. Per-tick state is "
        "eagerly checkpointed so lineage stays O(1) per tick.",
    tags=("streaming", "quality", "checks", "aggregate"),
)
def streaming_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    stage = os.path.join(scratch_dir(f"stream_dq_{sf_dir}"), "stage")
    shutil.rmtree(stage, ignore_errors=True)
    ev.repartitionByRange(4, "event_id").write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    state = {"df": None, "n_batches": 0}
    good_types = ("view", "click", "purchase", "signup", "error")

    def tick(batch_df, batch_id):
        counters = batch_df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").isNull().cast("int")).alias("n_null_value"),
            F.sum(
                ((F.col("value") < 0) | (F.col("value") > 10000)).cast("int")
            ).alias("n_out_of_range"),
            F.sum(
                (~F.col("event_type").isin(*good_types)).cast("int")
            ).alias("n_bad_type"),
        ).na.fill(0)
        merged = (
            counters
            if state["df"] is None
            else state["df"]
            .unionByName(counters)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_null_value").alias("n_null_value"),
                F.sum("n_out_of_range").alias("n_out_of_range"),
                F.sum("n_bad_type").alias("n_bad_type"),
            )
        )
        state["df"] = merged.localCheckpoint(eager=True)
        state["n_batches"] += 1

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    s = state["df"]
    return s.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null_value").cast("long").alias("n_null_value"),
        F.col("n_out_of_range").cast("long").alias("n_out_of_range"),
        F.col("n_bad_type").cast("long").alias("n_bad_type"),
        F.round(
            F.col("n_null_value").cast("double") / F.col("n_rows"), 6
        ).alias("null_rate"),
        F.lit(state["n_batches"]).cast("long").alias("n_batches"),
        (
            (F.col("n_null_value") == 0)
            & (F.col("n_out_of_range") == 0)
            & (F.col("n_bad_type") == 0)
        ).alias("all_clean"),
    )


from ytspark.queries import _REGISTRY as _REG_FOR_EXSUB


@register(
    "streaming_exact_substring_screen",
    oracle=_REG_FOR_EXSUB["dedup_exact_substring_incremental"].oracle,
    doc="STREAMING exact-substring screening — the ingest-time form "
        "of the exact-substring family: the corpus K-gram store "
        "bootstraps once, then the document stream (file source, 4 "
        "range-sliced micro-batches, maxFilesPerTrigger=1) runs the "
        "span screen inside foreachBatch — each tick grams only its "
        "own documents, semi-joins the FROZEN corpus store, merges "
        "covered positions into maximal spans (doc-partitioned "
        "gaps-and-islands), and appends its spans to an executor-"
        "side parquet sink. Because coverage against a frozen store "
        "is a pure per-document function, the union of ticks equals "
        "the batch screen EXACTLY — certified by sharing "
        "dedup_exact_substring_incremental's oracle, hash and all "
        "(the strongest form of the streaming/batch unification "
        "claim: not a collapsed rollup, the identical row set). "
        "Per-tick cost is O(batch grams + matched postings); the "
        "framework floor is the measured ~1.7s 4-tick cost "
        "(tools/streaming_floor.py).",
    tags=("streaming", "dedup", "span", "exact", "incremental", "store"),
)
def streaming_exact_substring_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from pyspark.sql.window import Window

    from ytspark.operators.dedup import (
        EXSUB_K,
        INCR_SPLIT,
        persist_exsub_store,
    )
    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    root = scratch_dir(f"stream_exsub_{sf_dir}")
    store = os.path.join(root, "grams")
    stage = os.path.join(root, "stage")
    sink = os.path.join(root, "spans")
    for d in (store, stage, sink):
        shutil.rmtree(d, ignore_errors=True)
    # store bootstrap and stage write are independent — overlap them
    # (guide §2.6)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    concurrent_jobs(
        lambda: persist_exsub_store(
            docs.where(F.col("doc_id") < INCR_SPLIT), store
        ),
        lambda: batch.repartitionByRange(4, "doc_id").write.parquet(stage),
    )
    schema = spark.read.parquet(stage).schema

    def tick(batch_df, batch_id):
        toks = batch_df.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos0")
        parts = [F.col("tok")] + [
            F.lead("tok", i).over(w) for i in range(1, EXSUB_K)
        ]
        g = toks.select(
            "doc_id",
            (F.col("pos0") + 1).alias("p"),
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias(
                "gram"
            ),
        ).where(F.col("gram").isNotNull())
        stored = spark.read.parquet(store).select("gram")
        covered = g.join(stored, "gram", "left_semi").select("doc_id", "p")
        wi = Window.partitionBy("doc_id").orderBy("p")
        isl = covered.select(
            "doc_id", "p", (F.col("p") - F.row_number().over(wi)).alias("grp")
        )
        spans = isl.groupBy("doc_id", "grp").agg(
            F.min("p").cast("long").alias("span_start"),
            (F.max("p") + EXSUB_K - 1).cast("long").alias("span_end"),
            (F.max("p") + EXSUB_K - 1 - F.min("p") + 1)
            .cast("long")
            .alias("span_len"),
        ).drop("grp")
        spans.write.mode("append").parquet(sink)

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink).select(
        "doc_id", "span_start", "span_end", "span_len"
    )


@register(
    "streaming_running_distinct_users",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
),
daily AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY 1
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
         AS cumulative_users
FROM daily
""",
    doc="STREAMING growth accounting — the stateful twin of "
        "running_distinct_users_daily (they share the oracle): a "
        "running per-user MIN(first day) aggregate holds O(distinct "
        "users) state and is ORDER-INDEPENDENT — min is commutative, "
        "so unlike a dropDuplicates formulation the result does not "
        "depend on intra-batch arrival order; the complete-mode "
        "snapshot after the availableNow drain is each user's global "
        "first day, rolled up to the new-user series with the "
        "cumulative sum over the bounded day spine. The same linear "
        "first-occurrence identity that makes the batch form scale, "
        "expressed as streaming aggregate state.",
    tags=("streaming", "retention", "dedup", "stateful", "aggregate"),
)
def streaming_running_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    stream = _events_stream(spark, sf_dir)
    firsts = stream.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    sink = f"stream_rdu_{abs(hash(sf_dir)) % 10_000_000}"
    _run_to_memory(firsts, sink, output_mode="complete")
    daily = (
        spark.table(sink)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(wc).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Streaming watermark-front monitor (the lateness profile, per tick)
# ---------------------------------------------------------------------------

SWM_TICKS = 4  # arrival slices == micro-batches
SWM_LATE_S = 300  # per-tick exceedance threshold (5 minutes)


@register(
    "streaming_watermark_monitor",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS cnt FROM events),
b AS (
  SELECT event_id, EPOCH_US(ts) AS tus,
         LEAST(CAST(event_id * {SWM_TICKS} // cnt AS INT),
               {SWM_TICKS} - 1) AS batch_id
  FROM events CROSS JOIN n
),
fronts AS (
  SELECT batch_id, MAX(tus) AS bmax FROM b GROUP BY batch_id
),
pf AS (
  SELECT batch_id,
         MAX(bmax) OVER (ORDER BY batch_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS front
  FROM fronts
),
late AS (
  SELECT b.batch_id,
         GREATEST(COALESCE(pf.front, 0) - b.tus, 0) AS lateness_us
  FROM b JOIN pf USING (batch_id)
)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(SUM(CASE WHEN lateness_us > CAST({SWM_LATE_S} AS BIGINT)
                          * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_beyond_5m,
       CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
FROM late GROUP BY batch_id
""",
    doc=f"STREAMING WATERMARK MONITOR — the live sibling of "
        f"watermark_lateness_profile: the event stream arrives in "
        f"{SWM_TICKS} deterministic arrival slices "
        f"(maxFilesPerTrigger=1 over explicitly-bounded event_id "
        f"quartile files, so the oracle can replay the slicing "
        f"exactly), and each foreachBatch tick measures its events "
        f"against the WATERMARK FRONT left by prior ticks — the "
        f"8-byte max-event-time scalar Structured Streaming itself "
        f"tracks — reporting per-tick late counts, "
        f">{SWM_LATE_S}s exceedances, and the worst lateness, then "
        f"advances the front. This is the production dashboard that "
        f"tells you whether the withWatermark() delay chosen from "
        f"the batch profile still holds as arrival patterns drift. "
        f"Lateness here is front-at-tick-granularity (first tick "
        f"has no front => zero late by definition) — the batch twin "
        f"measures the per-event prefix; both reconcile through the "
        f"shared front recursion, and the oracle replays THIS "
        f"query's tick semantics.",
    tags=("streaming", "temporal", "quality"),
)
def streaming_watermark_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from ytspark.plans.scratch import scratch_dir
    from ytspark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    n = ev.count()  # bounded scalar: slice boundaries for the oracle
    root = scratch_dir(f"stream_wm_{sf_dir}")
    stage = os.path.join(root, "stage")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage, exist_ok=True)
    # persisted: each of the four slice writes below filters this same
    # projection — without the persist every write re-scans events
    # (guide §2.4 "don't compute things you throw away")
    base = ev.select(
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.least(
            (F.col("event_id") * SWM_TICKS / n).cast("int"),
            F.lit(SWM_TICKS - 1),
        ).alias("batch_id"),
    ).persist()
    # one file per slice, written in slice order (file source processes
    # files in discovery order; distinct subdir writes keep it stable —
    # deliberately NOT overlapped: concurrent writes could interleave
    # modification times and reorder tick delivery)
    for i in range(SWM_TICKS):
        base.where(F.col("batch_id") == i).coalesce(1).write.parquet(
            os.path.join(stage, f"slice{i}")
        )
    base.unpersist()
    schema = spark.read.parquet(os.path.join(stage, "slice0")).schema
    # per-tick metrics are FIVE integers — they are already collected
    # on the driver for the front recursion, so the result accumulates
    # here (bounded by the tick count) instead of paying a 1-row
    # parquet append per tick plus a final read-back (4 jobs saved)
    state = {"front": None, "rows": []}

    def tick(batch_df, batch_id):
        front = state["front"]
        agg = batch_df.agg(
            F.min("batch_id").alias("bid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("tus") < (front if front is not None else -(1 << 62)),
                    1,
                ).otherwise(0)
            ).alias("n_late"),
            F.sum(
                F.when(
                    F.col("tus")
                    < (front if front is not None else -(1 << 62))
                    - SWM_LATE_S * 1_000_000,
                    1,
                ).otherwise(0)
            ).alias("n_beyond_5m"),
            F.greatest(
                F.max(
                    (front if front is not None else F.col("tus"))
                    - F.col("tus")
                ),
                F.lit(0),
            ).alias("max_lateness_us"),
            F.max("tus").alias("bmax"),
        ).collect()[0]
        state["rows"].append(
            (
                int(agg["bid"]),
                int(agg["n_events"]),
                int(agg["n_late"]),
                int(agg["n_beyond_5m"]),
                int(agg["max_lateness_us"]),
            )
        )
        state["front"] = (
            max(front, int(agg["bmax"])) if front is not None
            else int(agg["bmax"])
        )

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "slice*"))
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(
        state["rows"],
        "batch_id long, n_events long, n_late long, "
        "n_beyond_5m long, max_lateness_us long",
    )

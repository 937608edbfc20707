"""Tests of the benchmark's own code (not of ytspark).

    python3 -m pytest -q perfbench/tests

The pure tests need no JVM; the two Spark tests start one small local
session shared by the module.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from stats import Tally, percentile, tail_percentile  # noqa: E402


# --------------------------------------------------------------------------
# percentile rule
# --------------------------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (0, None), (10, None), (19, None), (20, 50), (39, 50), (40, 75),
    (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_leaves_ten_above_its_rank():
    for n in range(20, 2000):
        q = tail_percentile(n)
        values = list(range(n))
        assert sum(v > percentile(values, q) for v in values) >= 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 100) == 5.0
    assert percentile(values, 1) == 1.0


def test_summary_reports_tail_only_with_enough_samples():
    t = Tally()
    for i in range(19):
        t.record("op", float(i))
    assert not any(k.startswith("latency_p9") for k in t.summary())
    for i in range(81):
        t.record("op", float(i))
    assert "latency_p90_s" in t.summary()


# --------------------------------------------------------------------------
# seed determinism
# --------------------------------------------------------------------------

def test_tick_payload_is_byte_identical_per_tick():
    a, b = workloads.tick_payload(70_000), workloads.tick_payload(70_000)
    assert a == b
    assert a != workloads.tick_payload(70_001)
    lines = a.decode().splitlines()
    assert len(lines) == 7 and all(json.loads(x)["items"] for x in lines)


@pytest.mark.parametrize("seed", [0, 1, 1_007_974_875, 2**32 - 1, 2**63])
def test_tick_counters_fit_bigint_for_any_seed(seed):
    last = workloads.first_tick(seed) + workloads.TICK_STRIDE - 1
    for tick in (workloads.first_tick(seed), last):
        for line in workloads.tick_payload(tick).decode().splitlines():
            stats = json.loads(line)["items"][0]["statistics"]
            assert all(int(stats[k]) < 2**63 for k in ("viewCount", "subscriberCount", "videoCount"))


def test_traced_runs_trace_every_kind_once_per_pass():
    orders = workloads.pass_orders(9, workloads.MIX)
    order = next(orders) + next(orders)  # a traced pass
    traced = [n for i, n in enumerate(order) if workloads.RegistryMix.traced(0, i, n)]
    assert sorted(traced) == sorted(workloads.MIX)
    ticks = [workloads.ChannelPipeline.traced(p, i, "tick")
             for p in range(2) for i in range(workloads.TICKS_PER_PASS)]
    assert ticks == [True, False] * workloads.TICKS_PER_PASS


def test_trace_overhead_compares_traced_with_untraced_ops():
    from stats import Op, trace_overhead

    ops = [Op("a", 1.1, True, traced=True), Op("a", 1.0, True),
           Op("b", 2.2, True, traced=True), Op("b", 2.0, True), Op("c", 9.0, False)]
    assert trace_overhead(ops) == pytest.approx(1 - 3.0 / 3.3)
    assert trace_overhead(ops[1::2]) == 0.0


def test_pass_order_depends_only_on_seed():
    a = workloads.pass_orders(5, workloads.MIX)
    b = workloads.pass_orders(5, workloads.MIX)
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert all(sorted(p) == sorted(workloads.MIX) for p in first)
    other = workloads.pass_orders(6, workloads.MIX)
    assert [next(other) for _ in range(3)] != first


@pytest.mark.parametrize("name", datagen.TABLES)
def test_tables_are_deterministic_in_seed(name):
    a = datagen.build_table(name, 1, sf=0.01)
    assert a.equals(datagen.build_table(name, 1, sf=0.01))
    c = datagen.build_table(name, 2, sf=0.01)
    assert c.num_rows == a.num_rows and c.schema == a.schema
    assert not c.equals(a)


def test_table_bytes_do_not_depend_on_other_tables(tmp_path):
    datagen.write_tables(str(tmp_path / "all"), 3, sf=0.01)
    datagen.write_tables(str(tmp_path / "one"), 3, sf=0.01, names=("events",))
    assert (tmp_path / "all" / "events.parquet").read_bytes() == \
        (tmp_path / "one" / "events.parquet").read_bytes()


# --------------------------------------------------------------------------
# failures are counted against attempted
# --------------------------------------------------------------------------

def test_failed_and_wrong_ops_count_against_attempted():
    calls = iter(range(100))

    def op(name):
        i = next(calls)
        if name == "boom":
            raise RuntimeError("kaput\nsecond line")
        return i

    tally = Tally()
    tracer = tracing.Tracer(enabled=False)
    workloads.closed_loop(tally, 0.0, iter([["ok", "boom", "ok", "ok"]]), op, tracer)
    assert tally.attempted == 4 and tally.failed == 1
    tally.mark_wrong(2, "differs")
    s = tally.summary()
    assert (s["attempted"], s["failed"], s["samples"]) == (4, 2, 2)
    assert s["ops_per_s"] == pytest.approx(2 / tally.window_s)
    assert s["errors"] == ["boom: kaput", "ok: wrong result: differs"]


def test_stream_batches_count_from_window_start_not_first_traced_op():
    """An untraced streaming op that runs first in the window still has
    its batches counted, for every timed streaming op alike."""
    from stats import Op

    tally = Tally(window_start=100.0)
    tally.ops = [Op("stream", 1.0, True), Op("query", 1.0, True, traced=True),
                 Op("stream", 1.0, True, traced=True)]
    layers = {"stream": "streamq", "query": "queries"}

    def batch(start, add):
        return {"start": start, "durationMs": {"addBatch": add, "walCommit": 1,
                                               "commitOffsets": 2}}

    progress = [batch(90.0, 99),                     # warm-up, before the window
                batch(100.5, 10), batch(100.7, 20),  # untraced op, first in the window
                batch(102.5, 30), batch(102.7, 40)]  # traced op
    out = workloads.streamq_layer(progress, tally, layers)
    assert out["streamq.batches_per_op"] == 2.0
    assert out["streamq.addBatch_ms"] == 25.0
    assert out["streamq.commit_ms"] == 3.0


def test_closed_loop_stamps_window_start():
    tally = Tally()
    before = time.time()
    workloads.closed_loop(tally, 0.0, iter([["a"]]), lambda n: n,
                          tracing.Tracer(enabled=False))
    assert before <= tally.window_start <= time.time()


def test_oracle_check_flags_wrong_results(tmp_path):
    import types

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stats import Op

    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    registry = {"q": types.SimpleNamespace(oracle="SELECT a FROM t WHERE a > 1")}
    ops = [
        Op("q", 0.1, True, value=pd.DataFrame({"a": [3, 2]})),      # order-insensitive
        Op("q", 0.1, True, value=pd.DataFrame({"a": [2, 4]})),      # wrong value
        Op("q", 0.1, True, value=pd.DataFrame({"a": [2]})),         # wrong row count
        Op("q", 0.1, True, value=pd.DataFrame({"b": [2, 3]})),      # wrong column
        Op("q", 0.1, True, value=pd.DataFrame({"a": [2.0, 3.0]})),  # wrong type family
        Op("q", 0.1, False),                                        # already failed
    ]
    bad = dict(workloads.check_against_oracle(str(tmp_path), registry, ops))
    assert sorted(bad) == [1, 2, 3, 4]


def test_closed_loop_runs_whole_passes_until_deadline():
    seen = []
    tally = Tally()
    passes = ([f"p{i}a", f"p{i}b"] for i in range(100))
    workloads.closed_loop(tally, 0.05, passes,
                          lambda n: seen.append(n) or time.sleep(0.01),
                          tracing.Tracer(enabled=False))
    assert len(seen) % 2 == 0 and len(seen) >= 6
    assert tally.window_s >= 0.05


# --------------------------------------------------------------------------
# Spark: listener and event-log job attribution on a tiny stream
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own session with the event log on")
    events = str(tmp_path_factory.mktemp("events"))
    conf = {
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_EXTRA_CONF": tracing.event_log_conf(events),
    }
    saved = {k: os.environ.get(k) for k in conf}
    os.environ.update(conf)

    from ytspark import get_spark

    try:
        session = get_spark("perfbench-tests")
        session._perfbench_events = events
        yield session
        session.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def test_listener_and_event_log_count_a_tiny_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"part-{i}.json").write_text(json.dumps({"k": i}) + "\n")
    listener = tracing.StreamProgress()
    spark.streams.addListener(listener)
    tracer = tracing.Tracer(enabled=True)
    tracer.op_index = 0
    sink = []
    sc = spark.sparkContext
    with tracer.span("op", "tiny"):
        with tracer.span("streamq", "call"):
            sc.setJobGroup("streamq:call", "caller")
            q = (
                spark.readStream.schema("k long").option("maxFilesPerTrigger", 1)
                .json(str(src))
                .writeStream.foreachBatch(lambda df, bid: sink.append(df.count()))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            sc.setLocalProperty("spark.jobGroup.id", None)
    listener.wait_for(3)
    spark.streams.removeListener(listener)
    assert [p["batchId"] for p in listener.progress] == [0, 1, 2]
    assert all(p["rows"] == 1 and "addBatch" in p["durationMs"] for p in listener.progress)
    assert sink == [1, 1, 1]

    # the stream thread's jobs carry no caller job group, yet the event
    # log attributes them to the span they ran in
    group_jobs = sc.statusTracker().getJobIdsForGroup("streamq:call")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    time.sleep(1.0)
    jobs, stages = tracing.job_census(tracing.read_event_log(spark._perfbench_events))
    rows = tracing.attribute(tracer.spans, jobs, stages)
    op_row = next(r for r in rows if r["layer"] == "op")
    assert op_row["jobs"] >= 3  # one count() per batch at least
    assert op_row["jobs"] > len(group_jobs)
    assert op_row["tasks"] >= op_row["stages"] >= 1
    assert 0.0 <= op_row["driver_gap_s"] <= op_row["wall_s"]


def test_union_length_merges_overlaps():
    assert tracing._union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing._union_length([]) == 0.0


def test_host_slowness_reads_every_core_and_restores_affinity():
    from stats import host_slowness

    before = os.sched_getaffinity(0)
    assert host_slowness(rounds=1) > 0.0
    assert os.sched_getaffinity(0) == before

"""Streaming incremental dedup: the registered query is hash-certified
against a batch-collapse DuckDB oracle (round 4); this test covers the
function-level store lifecycle (the store's one hash family, the
polynomial "poly" family the oracles replay) — the foreachBatch stream
must produce exactly the pairs that sequential batch ticks over the
same slices produce — plus the within-batch pairing the certified
query relies on."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ytspark.operators.dedup import (
    INCR_SPLIT,
    incremental_minhash_dedup,
    persist_minhash_store,
)
from ytspark.session import load_tables


def _normalized(df):
    return set(
        map(
            tuple,
            df.select(
                F.least("new_doc_id", "existing_doc_id"),
                F.greatest("new_doc_id", "existing_doc_id"),
                F.round("est_jaccard", 9),
            ).collect(),
        )
    )


@pytest.fixture()
def fresh_dirs():
    root = tempfile.mkdtemp(prefix="ytspark_sid_test_")
    yield (
        os.path.join(root, "store_a"),
        os.path.join(root, "store_b"),
        os.path.join(root, "stage"),
    )
    shutil.rmtree(root, ignore_errors=True)


def test_stream_ticks_equal_sequential_batch_ticks(spark, sf_dir, fresh_dirs):
    store_stream, store_batch, stage = fresh_dirs
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < INCR_SPLIT)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)

    # stage three explicit slice files (one micro-batch each)
    batch.repartitionByRange(3, "doc_id").write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    # --- streaming side: foreachBatch ticks with append ---
    persist_minhash_store(corpus, store_stream)
    stream_pairs: set = set()
    tick_doc_sets: list[list[int]] = []

    def tick(batch_df, batch_id):
        pairs = incremental_minhash_dedup(
            spark, batch_df, store_stream, threshold=0.2, append=True
        )
        stream_pairs.update(_normalized(pairs))
        tick_doc_sets.append(
            [r.doc_id for r in batch_df.select("doc_id").collect()]
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(tick)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(tick_doc_sets) == 3  # one tick per staged file

    # --- batch side: replay the SAME slices in the same order ---
    persist_minhash_store(corpus, store_batch)
    batch_pairs: set = set()
    for ids in tick_doc_sets:
        slice_df = docs.where(F.col("doc_id").isin(ids))
        pairs = incremental_minhash_dedup(
            spark, slice_df, store_batch, threshold=0.2, append=True
        )
        batch_pairs.update(_normalized(pairs))

    assert stream_pairs == batch_pairs
    assert stream_pairs  # non-trivial: the corpus contains near-dups


def test_within_batch_pairing_catches_same_tick_dups(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    corpus = spark.createDataFrame(
        [(1, "totally unrelated corpus text " * 10)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "wb_store")
    persist_minhash_store(corpus, path)
    batch = spark.createDataFrame(
        [(10, base + "tail one"), (11, base + "tail two"),
         (12, "novel body of words nothing alike " * 7)],
        "doc_id bigint, text string",
    )
    without = {
        (r.new_doc_id, r.existing_doc_id)
        for r in incremental_minhash_dedup(
            spark, batch, path, threshold=0.2, append=False
        ).collect()
    }
    with_wb = {
        (r.new_doc_id, r.existing_doc_id)
        for r in incremental_minhash_dedup(
            spark, batch, path, threshold=0.2, append=False,
            within_batch=True,
        ).collect()
    }
    assert (11, 10) not in without  # store join alone misses same-tick
    assert (11, 10) in with_wb      # within-batch self-join catches it
    assert all(12 not in p for p in with_wb)  # novel doc matches nothing


def test_sink_fn_mode_matches_default_mode(spark, sf_dir, fresh_dirs):
    """r12: ``sink_fn`` replaces the checkpoint-then-rewrite with a
    single sink-write materialization and overlaps the two store
    appends — the pairs it sinks AND the post-append store contents
    must be identical to the default mode's."""
    store_a, store_b, stage = fresh_dirs
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < INCR_SPLIT)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    persist_minhash_store(corpus, store_a)
    persist_minhash_store(corpus, store_b)
    default_pairs = _normalized(
        incremental_minhash_dedup(
            spark, batch, store_a, threshold=0.2, append=True,
            within_batch=True,
        )
    )
    sink = stage + "_sink"
    ret = incremental_minhash_dedup(
        spark, batch, store_b, threshold=0.2, append=True,
        within_batch=True,
        sink_fn=lambda pairs: pairs.write.mode("append").parquet(sink),
    )
    assert ret is None  # caller owns the sink in this mode
    sink_pairs = _normalized(spark.read.parquet(sink))
    assert sink_pairs == default_pairs and sink_pairs

    def store_rows(store, sub, cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(store + "/" + sub)
            .select(*cols)
            .collect()
        )

    for sub, cols in (
        ("sigs", ["doc_id", "sig"]),
        ("bands", ["doc_id", "band_id", "band_hash"]),
    ):
        assert store_rows(store_a, sub, cols) == store_rows(
            store_b, sub, cols
        )


def test_failed_sink_leaves_store_unchanged(spark, sf_dir, fresh_dirs):
    """A ``sink_fn`` that raises must leave the sigs and bands stores
    exactly as they were, so a foreachBatch retry of the tick sees the
    pre-tick store; the retried tick then sinks the fault-free pairs."""
    store, _, stage = fresh_dirs
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < INCR_SPLIT)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    persist_minhash_store(corpus, store)

    def files():
        return {
            sub: sorted(
                os.path.relpath(os.path.join(root, n), store)
                for root, _dirs, names in os.walk(os.path.join(store, sub))
                for n in names
            )
            for sub in ("sigs", "bands")
        }

    before = files()

    def failing_sink(pairs):
        pairs.count()  # the pairs are fully computed, then the sink dies
        raise RuntimeError("sink failed")

    with pytest.raises(RuntimeError, match="sink failed"):
        incremental_minhash_dedup(
            spark, batch, store, threshold=0.2, append=True,
            within_batch=True, sink_fn=failing_sink,
        )
    assert files() == before

    sink = stage + "_sink"
    incremental_minhash_dedup(
        spark, batch, store, threshold=0.2, append=True,
        within_batch=True,
        sink_fn=lambda pairs: pairs.write.mode("append").parquet(sink),
    )
    retried = _normalized(spark.read.parquet(sink))
    store_b = fresh_dirs[1]
    persist_minhash_store(corpus, store_b)
    fault_free = _normalized(
        incremental_minhash_dedup(
            spark, batch, store_b, threshold=0.2, append=False,
            within_batch=True,
        )
    )
    assert retried == fault_free and retried
    for sub in ("sigs", "bands"):
        assert len(files()[sub]) > len(before[sub])  # the retry appended


def test_registered_query_is_deterministic(spark, sf_dir):
    from ytspark.streaming.queries import streaming_incremental_dedup

    a = sorted(map(tuple, streaming_incremental_dedup(spark, sf_dir).collect()))
    b = sorted(map(tuple, streaming_incremental_dedup(spark, sf_dir).collect()))
    assert a == b and a


def test_default_store_replays_in_duckdb(spark, sf_dir, tmp_path):
    """``persist_minhash_store`` with no extra arguments writes exactly
    the ``sig`` and ``bands`` relations DuckDB computes with
    ``_bands_cte("poly")`` over the same rows, so every store-mediated
    result is replayable by the incremental oracles."""
    import duckdb

    from ytspark.operators.dedup import _bands_cte

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < 80).select("doc_id", "text").union(
        # a doc shorter than one shingle has no signature in either engine
        spark.createDataFrame([(10_001, "two words")], "doc_id bigint, text string")
    )
    path = str(tmp_path / "store")
    persist_minhash_store(corpus, path)

    def spark_rows(sub, cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(f"{path}/{sub}").select(*cols).collect()
        )

    con = duckdb.connect()
    con.register("documents", corpus.toPandas())

    def duck_rows(select):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in con.execute(f"WITH {_bands_cte('poly')} {select}").fetchall()
        )

    sigs = spark_rows("sigs", ["doc_id", "sig"])
    assert sigs and 10_001 not in {r[0] for r in sigs}
    assert sigs == duck_rows("SELECT doc_id, sig FROM sig")
    assert spark_rows("bands", ["doc_id", "band_id", "band_hash"]) == duck_rows(
        "SELECT doc_id, band_id, band_hash FROM bands"
    )

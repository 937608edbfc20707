"""Round-7 operators: exact-substring dedup (suffix-array corpus-prep
mode) — span semantics pinned on a hand-checkable micro-corpus."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_substring_spans_hand_corpus(spark):
    """Two docs share a 10-token run; K=8 ⇒ covered seed positions are
    the 3 windows inside the run, merging to ONE maximal span of 10."""
    from ytspark.operators.dedup import EXSUB_K, _exsub_spans

    assert EXSUB_K == 8
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"a1 a2 a3 {shared} z1 z2"),
            (2, f"b1 {shared} y1 y2 y3"),
            (3, "lone words that never repeat anywhere at all ok"),
        ],
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in _exsub_spans(docs).collect()
    }
    # doc 1: run occupies 1-based positions 4..13; doc 2: 2..11
    assert spans == {1: (4, 13, 10), 2: (2, 11, 10)}


def test_exact_substring_same_doc_repeats_count(spark):
    """ALL occurrences count (unlike the cross-doc df operator): a
    doc repeating its own 8-gram is covered."""
    from ytspark.operators.dedup import _exsub_spans

    run = " ".join(f"r{i}" for i in range(8))
    docs = _docs(spark, [(1, f"{run} mid1 mid2 {run}")])
    got = sorted(
        (r["span_start"], r["span_len"])
        for r in _exsub_spans(docs).collect()
    )
    assert got == [(1, 8), (11, 8)]


def test_exact_substring_apply_accounting(spark):
    from ytspark.operators.dedup import _exsub_spans

    # reuse the spans fixture through the registered apply shape
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _docs(spark, [(1, f"a1 {shared}"), (2, f"{shared} z9")])
    spans = _exsub_spans(docs)
    per = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("dup")
    ).collect()
    assert {r["doc_id"]: r["dup"] for r in per} == {1: 10, 2: 10}


def test_lds_no_repeats_returns_zero_row(spark):
    from ytspark.queries import registry  # ensure registration

    registry()
    import tempfile

    from ytspark.operators.dedup import longest_duplicate_substring

    with tempfile.TemporaryDirectory() as d:
        _docs(
            spark, [(1, "only unique tokens here"), (2, "and more of them")]
        ).write.parquet(d + "/documents.parquet")
        row = longest_duplicate_substring(spark, d).collect()[0]
    # "of"/"and" unique across docs too — every token distinct
    assert row["lds_tokens"] == 0
    assert row["n_occurrences"] == 0
    assert row["example_gram"] is None


def test_lds_finds_exact_length(spark):
    import tempfile

    from ytspark.operators.dedup import longest_duplicate_substring

    run = " ".join(f"t{i}" for i in range(13))
    with tempfile.TemporaryDirectory() as d:
        _docs(
            spark,
            [(1, f"x1 x2 {run} x3"), (2, f"{run} w1 w2 w3 w4")],
        ).write.parquet(d + "/documents.parquet")
        row = longest_duplicate_substring(spark, d).collect()[0]
    assert row["lds_tokens"] == 13
    assert row["n_distinct_repeated"] == 1
    assert row["n_occurrences"] == 2
    assert row["example_gram"] == run


def test_ridge_lambda_zero_matches_ols(spark, sf_dir):
    """lambda=0 must reproduce the normal-equations OLS fit — the
    centered formulation is an algebraic identity, not a new model."""
    from ytspark.queries import registry

    reg = registry()
    ridge = {
        r["lam"]: r
        for r in reg["ridge_regression_path"].fn(spark, sf_dir).collect()
    }
    ols = reg["regression_normal_equations"].fn(spark, sf_dir).collect()[0]
    r0 = ridge[0.0]
    assert abs(r0["b1"] - ols["beta1"]) < 1e-4
    assert abs(r0["b2"] - ols["beta2"]) < 1e-4
    assert abs(r0["intercept"] - ols["beta0"]) < 1e-4
    # shrinkage: coefficient magnitude is non-increasing along the path
    lams = sorted(ridge)
    for a, b in zip(lams, lams[1:]):
        assert abs(ridge[b]["b1"]) <= abs(ridge[a]["b1"]) + 1e-9
        assert ridge[b]["train_r2"] <= ridge[a]["train_r2"] + 1e-9


def test_kmv_below_k_is_exact(spark):
    """A group smaller than k must report its exact distinct count."""
    from ytspark.operators.sketch import KMV_K, kmv_distinct_sketch_eval
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, "TINY" if i < 10 else "BIG") for i in range(500)],
            "c_custkey long, c_mktsegment string",
        ).write.parquet(d + "/customer.parquet")
        rows = {
            r["seg"]: r for r in kmv_distinct_sketch_eval(spark, d).collect()
        }
    assert rows["TINY"]["n_hashes"] == 10 < KMV_K
    assert rows["TINY"]["kmv_estimate"] == 10.0
    assert rows["TINY"]["est_over_exact"] == 1.0
    # the BIG group uses the estimator and lands within +/-50% at k=64
    assert 0.5 < rows["BIG"]["est_over_exact"] < 1.5


def test_mmr_first_pick_is_top_bm25(spark, sf_dir):
    from ytspark.queries import registry

    reg = registry()
    top = reg["bm25_search"].fn(spark, sf_dir).collect()[0]
    picks = (
        reg["mmr_diversified_topk"].fn(spark, sf_dir)
        .orderBy("pick_order")
        .collect()
    )
    assert picks[0]["doc_id"] == top["doc_id"]
    assert len({p["doc_id"] for p in picks}) == len(picks)  # no repeats


def test_nearest_click_prefers_before_on_tie(spark):
    import tempfile

    from ytspark.operators.temporal import asof_nearest_click_join

    from datetime import datetime

    rows = [
        # purchase at 00:16:40; clicks at +/- 10s exactly — tie, expect BEFORE
        (1, 100, "purchase", datetime(2024, 1, 1, 0, 16, 40), 0.0),
        (2, 100, "click", datetime(2024, 1, 1, 0, 16, 30), 0.0),
        (3, 100, "click", datetime(2024, 1, 1, 0, 16, 50), 0.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts timestamp, value double",
        ).write.parquet(d + "/events.parquet")
        got = asof_nearest_click_join(spark, d).collect()
    assert len(got) == 1
    assert got[0]["nearest_click_id"] == 2  # the before-side click
    assert got[0]["after_purchase"] == 0
    assert got[0]["gap_micros"] == 10_000_000


def test_minhash_band_store_writes_one_file_per_band(spark):
    """Round-7 layout contract: partitioned stores repartition by the
    partition column before writing — one parquet file per band per
    write, not one per shuffle partition per band (the measured 256-
    sliver append that dominated the streaming dedup profile)."""
    import glob
    import tempfile

    from ytspark.operators.dedup import persist_minhash_store

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 12) for i in range(40)], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        persist_minhash_store(docs, d + "/store")
        band_dirs = glob.glob(d + "/store/bands/band_id=*")
        assert band_dirs, "no band partitions written"
        for bd in band_dirs:
            files = glob.glob(bd + "/*.parquet")
            assert len(files) == 1, (bd, len(files))

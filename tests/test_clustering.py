"""Clustering/compression operators: the kmeans assignment is
value-certified vs DuckDB by the oracle gate; these tests pin PQ
semantics and the invariants the value compare can't express."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from ytspark.operators.clustering import (
    KM_K,
    PQ_CODES,
    PQ_SUBSPACES,
    build_pq_codebooks,
    embedding_kmeans_assign,
    embedding_pq,
)
from ytspark.operators.similarity import (
    IVF_TRAIN_CAP,
    _sample_sql,
    training_sample,
)
from ytspark.session import load_tables


def test_kmeans_assignment_is_total(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    n = emb.count()
    rows = embedding_kmeans_assign(spark, sf_dir).collect()
    assert sum(r.n_assigned for r in rows) == n
    assert len(rows) <= KM_K
    assert all(0 <= r.centroid_id < KM_K for r in rows)


def test_pq_codebook_shapes_and_determinism(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    a = build_pq_codebooks(emb)
    b = build_pq_codebooks(emb)
    dim = len(emb.select("embedding").first()[0])
    assert a.shape == (PQ_SUBSPACES, PQ_CODES, dim // PQ_SUBSPACES)
    assert np.array_equal(a, b)  # hash-strided sample: no RNG anywhere


def test_pq_beats_zero_codebook_baseline(spark, sf_dir):
    # reconstruction MSE per subspace must beat quantizing everything
    # to the global mean (1 code) — i.e. the codebook carries signal
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    mat = np.stack(
        emb.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype("float64")
    rows = {r.subspace: r for r in embedding_pq(spark, sf_dir).collect()}
    assert len(rows) == PQ_SUBSPACES
    sub = mat.shape[1] // PQ_SUBSPACES
    for s, r in rows.items():
        block = mat[:, s * sub : (s + 1) * sub]
        mean_mse = ((block - block.mean(axis=0)) ** 2).sum(axis=1).mean()
        assert r.avg_sq_err < mean_mse
        assert 1 <= r.codes_used <= PQ_CODES
        assert r.n_vectors == len(mat)


def test_pq_is_deterministic_across_runs(spark, sf_dir):
    a = sorted(map(tuple, embedding_pq(spark, sf_dir).collect()))
    b = sorted(map(tuple, embedding_pq(spark, sf_dir).collect()))
    assert a == b


def test_kmeans_plan_broadcasts_centroids(spark, sf_dir):
    # the centroid side must broadcast: no shuffle of the embedding
    # scan before the per-vector window
    plan = (
        embedding_kmeans_assign(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan


def test_training_sample_replays_in_duckdb(spark, sf_dir, tmp_path):
    """``training_sample`` returns exactly the rows, in order, of the
    ``tr`` CTE every IVF/PQ/PCA oracle trains on: at sf0.001 (stride 1)
    and on a corpus past IVF_TRAIN_CAP, where the Knuth stride drops
    rows."""
    import duckdb
    import pandas as pd

    n = 2 * IVF_TRAIN_CAP + 100
    rng = np.random.default_rng(7)
    big = str(tmp_path / "big.parquet")
    pd.DataFrame(
        {
            "vec_id": rng.permutation(n).astype("int64"),
            "label": 0,
            "embedding": [list(r) for r in rng.random((n, 4), dtype="float32")],
        }
    ).to_parquet(big)
    for path in (f"{sf_dir}/embeddings.parquet", big):
        ids, mat = training_sample(spark.read.parquet(path))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        want = con.execute(
            f"WITH {_sample_sql()} SELECT vec_id, v FROM tr ORDER BY rn"
        ).fetchall()
        assert ids.tolist() == [r[0] for r in want]
        assert np.array_equal(mat, np.array([r[1] for r in want]))
    assert len(ids) < n  # the stride really thinned the big corpus

"""Embedding clustering / compression operators: k-means cell
assignment (cross-engine value-checkable), product quantization and
PCA.

Complements the similarity module's IVF/LSH serving indexes and shares
its kernel set: PQ codebooks and PCA train on
``similarity.training_sample`` (replayed in SQL by
``similarity._sample_sql``), and ``pq_codes`` / ``_pq_sql`` are the one
PQ encode step that ``embedding_pq`` and ``knn_cosine_ivf_pq`` both
run.

Scale shape: centroids/codebooks are tiny (K·dim floats) and
BROADCAST; assignment is map-only against the embedding scan (no
shuffle before the final small aggregate). The training sample is a
bounded deterministic hash-strided subset — the driver never holds
more than ~``similarity.IVF_TRAIN_CAP`` vectors regardless of corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ytspark.queries import register
from ytspark.session import load_tables

KM_K = 8  # fixed seed centroids: embeddings with vec_id < KM_K
DIST_ROUND = 6


@register(
    "embedding_kmeans_assign",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < {KM_K}
),
p AS (
  SELECT e.vec_id, c.centroid_id,
         ROUND(LIST_REDUCE(
           LIST_TRANSFORM(GENERATE_SERIES(1, LEN(e.embedding)),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
           (a, x) -> a + x), {DIST_ROUND}) AS dist_r
  FROM embeddings e CROSS JOIN c
),
r AS (
  SELECT vec_id, centroid_id, dist_r,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist_r, centroid_id) AS rk
  FROM p
)
SELECT centroid_id, COUNT(*) AS n_assigned,
       ROUND(AVG(dist_r), {DIST_ROUND}) AS avg_dist2
FROM r WHERE rk = 1
GROUP BY centroid_id
""",
    doc="Nearest-centroid (k-means E-step) assignment of every "
        f"embedding to {KM_K} fixed seed centroids (the vectors with "
        f"vec_id < {KM_K}), reporting cluster sizes and mean squared "
        "distance. Distances are LEFT-FOLDED in index order in double "
        "precision on both engines — bit-identical sums — then rounded "
        "before the (distance, centroid_id) argmin rank, so the "
        "assignment itself is value-certified cross-engine (ties "
        "break on centroid_id deterministically). Plan: centroids "
        "broadcast, map-only distance + per-vector top-1 window, one "
        "small aggregate — the embedding scan is the only big input.",
    tags=("clustering", "kmeans", "similarity", "embedding"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cents = emb.where(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    diff2 = F.zip_with(
        "embedding",
        "cv",
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    dist2 = F.aggregate(diff2, F.lit(0.0), lambda a, x: a + x)
    pairs = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", F.round(dist2, DIST_ROUND).alias("dist_r")
    )
    w = Window.partitionBy("vec_id").orderBy("dist_r", "centroid_id")
    assign = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
    )
    return assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.avg("dist_r"), DIST_ROUND).alias("avg_dist2"),
    )


PQ_SUBSPACES = 8  # 64-dim embeddings → 8 subspaces × 8 dims
PQ_CODES = 16  # codes per subspace codebook (4 bits)


def _fold_d2(a, c):
    """(n_rows, n_codes) squared-distance matrix with a strict LEFT
    FOLD over dimensions — the same IEEE operation sequence DuckDB's
    LIST_REDUCE and Spark's aggregate lambda execute, so all engines
    get bit-identical doubles (numpy's pairwise ``.sum`` would not;
    the similarity module's _fold_norms/_fold_scores discipline)."""
    import numpy as np

    acc = np.zeros((a.shape[0], c.shape[0]))
    for j in range(a.shape[1]):
        diff = a[:, j][:, None] - c[:, j][None, :]
        acc = acc + diff * diff
    return acc


def pq_codes(mat, books):
    """PQ-encode the float64 rows ``mat`` against ``books`` (m, k,
    dim//m): per subspace, the nearest code by left-fold squared
    distance (ties to the lowest code, ORDER BY d2, code in the SQL
    replay) and that squared error. Returns two (n_rows, m) arrays,
    codes (int64) and errors."""
    import numpy as np

    m, _, sub = books.shape
    codes = np.empty((len(mat), m), dtype="int64")
    errs = np.empty((len(mat), m))
    for s in range(m):
        d2 = _fold_d2(mat[:, s * sub : (s + 1) * sub], books[s])
        codes[:, s] = d2.argmin(axis=1)
        errs[:, s] = d2[np.arange(len(mat)), codes[:, s]]
    return codes, errs


def build_pq_codebooks(emb: DataFrame, m: int = PQ_SUBSPACES, k: int = PQ_CODES):
    """Deterministic per-subspace codebooks trained on
    ``similarity.training_sample`` (the driver holds ~IVF_TRAIN_CAP
    vectors max): evenly-strided seeds, one Lloyd refinement per
    subspace. Returns ndarray (m, k, dim//m).

    Cross-engine reproducible by construction (round 4): Knuth-strided
    sample, vec_id row order, left-fold distances, argmin ties to the
    lowest code, Lloyd member sums folded in vec_id order — so
    embedding_pq certifies against a chained-CTE SQL replay exactly
    like knn_cosine_ivf."""
    import numpy as np

    from ytspark.operators.similarity import training_sample

    _, mat = training_sample(emb)
    dim = mat.shape[1]
    sub = dim // m
    books = np.empty((m, k, sub))
    for s in range(m):
        block = mat[:, s * sub : (s + 1) * sub]
        seed_stride = max(1, len(block) // k)
        cents = block[::seed_stride][:k].copy()
        # one Lloyd iteration; np.argmin takes the FIRST min — ties to
        # the lowest code, matching ORDER BY d2, code in the SQL replay
        assign = _fold_d2(block, cents).argmin(axis=1)
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype="int64")
        for i in range(len(block)):  # vec_id order: the fold the oracle replays
            sums[assign[i]] = sums[assign[i]] + block[i]
            counts[assign[i]] += 1
        for c in range(len(cents)):
            if counts[c]:
                cents[c] = sums[c] / counts[c]
        books[s] = cents
    return books


def _pq_sql() -> str:
    """CTEs replaying ``build_pq_codebooks`` + ``pq_codes`` over
    ``similarity._sample_sql``'s ``e``/``tr``: per subspace,
    vec_id-ordered evenly-strided seeds, one Lloyd step with
    vec_id-ordered member folds (``cbook(s, code, cv)``), then
    full-corpus encoding ``pq_enc(s, vec_id, code, sq_err)``. Every
    distance is a strict left fold and every argmin ranks (d2, code)."""
    sub = 64 // PQ_SUBSPACES
    ss = f"GREATEST(1, nt // {PQ_CODES})"

    def d2(bv: str, cv: str) -> str:
        return (
            f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, {sub + 1}),"
            f" j -> ({bv}[j] - {cv}[j]) * ({bv}[j] - {cv}[j])),"
            " (a, x) -> a + x)"
        )

    return f"""pq_sub AS (SELECT UNNEST(RANGE(0, {PQ_SUBSPACES})) AS s),
pq_tblocks AS (
  SELECT tr.vec_id, tr.rn, tr.nt, pq_sub.s,
         tr.v[pq_sub.s * {sub} + 1 : pq_sub.s * {sub} + {sub}] AS bv
  FROM tr CROSS JOIN pq_sub
),
pq_seeds AS (
  SELECT s, CAST((rn - 1) // {ss} AS INT) AS code, bv
  FROM pq_tblocks
  WHERE (rn - 1) % {ss} = 0 AND (rn - 1) // {ss} < {PQ_CODES}
),
pq_best AS (
  SELECT s, vec_id, code FROM (
    SELECT t.s, t.vec_id, c.code,
           ROW_NUMBER() OVER (PARTITION BY t.s, t.vec_id
                              ORDER BY {d2("t.bv", "c.bv")} ASC,
                                       c.code) AS rk
    FROM pq_tblocks t JOIN pq_seeds c ON c.s = t.s
  ) WHERE rk = 1
),
pq_dimsum AS (
  SELECT b.s, b.code, d.i AS dim,
         LIST_REDUCE(LIST(t.bv[d.i] ORDER BY t.vec_id), (a, x) -> a + x)
           / COUNT(*) AS mu
  FROM pq_best b
  JOIN pq_tblocks t ON t.s = b.s AND t.vec_id = b.vec_id
  CROSS JOIN (SELECT UNNEST(RANGE(1, {sub + 1})) AS i) d
  GROUP BY b.s, b.code, d.i
),
pq_mvec AS (
  SELECT s, code, LIST(mu ORDER BY dim) AS mv
  FROM pq_dimsum GROUP BY s, code
),
cbook AS (
  -- empty codes keep their seed (the numpy side's if counts[c] guard)
  SELECT sd.s, sd.code, COALESCE(r.mv, sd.bv) AS cv
  FROM pq_seeds sd LEFT JOIN pq_mvec r ON r.s = sd.s AND r.code = sd.code
),
pq_eblocks AS (
  SELECT e.vec_id, pq_sub.s,
         e.v[pq_sub.s * {sub} + 1 : pq_sub.s * {sub} + {sub}] AS bv
  FROM e CROSS JOIN pq_sub
),
pq_enc AS (
  SELECT s, vec_id, code, sq_err FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY s, vec_id
                                 ORDER BY sq_err ASC, code) AS rk
    FROM (
      SELECT t.s, t.vec_id, c.code, {d2("t.bv", "c.cv")} AS sq_err
      FROM pq_eblocks t JOIN cbook c ON c.s = t.s
    )
  ) WHERE rk = 1
)"""


def _pq_oracle() -> str:
    """Chained-CTE DuckDB replay of build_pq_codebooks + the encode
    kernel (``_pq_sql``), closed with the per-subspace accounting."""
    from ytspark.operators.similarity import _sample_sql

    return f"""
WITH {_sample_sql()},
{_pq_sql()}
SELECT CAST(s AS INTEGER) AS subspace,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT code) AS codes_used,
       ROUND(CAST(SUM(CAST(ROUND(sq_err, 9) AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*), 6) AS avg_sq_err
FROM pq_enc GROUP BY s
"""


@register(
    "embedding_pq",
    oracle=_pq_oracle(),
    doc="Product quantization: embeddings split into "
        f"{PQ_SUBSPACES} subspaces, each encoded to the nearest of "
        f"{PQ_CODES} codebook entries (4 bits/subspace — a 64-dim "
        "float32 vector compresses 256 B → 4 B, 64×). Codebooks train "
        "on a bounded hash-strided sample (driver holds ≤ "
        "IVF_TRAIN_CAP vectors at any corpus size) and broadcast; "
        "encoding + reconstruction-error measurement run as one "
        "Arrow-batched mapInPandas kernel over the embedding scan — "
        "map-only, no shuffle before the per-subspace accounting "
        "aggregate. Output: per-subspace codes-used and mean squared "
        "reconstruction error (9-dp-rounded errors summed through "
        "DECIMAL so the mean is order-independent). HASH-CERTIFIED "
        "(round 4): Knuth-strided training + left-fold float kernels "
        "make the whole train/encode pipeline replayable as chained "
        "CTEs in DuckDB — the knn_cosine_ivf discipline.",
    tags=("clustering", "quantization", "similarity", "embedding",
          "checkable"),
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    bbooks = spark.sparkContext.broadcast(build_pq_codebooks(emb))

    def encode(batches):
        import numpy as np

        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            codes, errs = pq_codes(mat, bbooks.value)
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"subspace": s, "code": codes[:, s], "sq_err": errs[:, s]}
                    )
                    for s in range(codes.shape[1])
                ],
                ignore_index=True,
            )

    encoded = emb.mapInPandas(
        encode, schema="subspace int, code long, sq_err double"
    )
    return encoded.groupBy("subspace").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("code").alias("codes_used"),
        F.round(
            F.sum(F.round(F.col("sq_err"), 9).cast("decimal(28,12)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_sq_err"),
    )


# ---------------------------------------------------------------------------
# PCA: top principal component via power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 6  # fixed unrolled power-method iterations
PCA_DIM = 64


def _pca_oracle() -> str:
    """Chained-CTE DuckDB replay of the full PCA pipeline: the shared
    training sample (``similarity._sample_sql``), the vec_id-ordered per-dim
    mean fold, PCA_ITERS power-method iterations (each = one fold over
    dims per row, one fold over rows per dim, one L2 normalize), then
    the corpus-wide projection and per-label stats. Every float op is
    a strict left fold in both engines (LIST_REDUCE here, sequential
    numpy adds in ``_pca_train``), so the trained component — and the
    projections through it — are bit-exact and hash-certified, the
    discipline knn_cosine_ivf / embedding_pq proved."""
    from ytspark.operators.similarity import _sample_sql

    d = PCA_DIM
    dims = f"(SELECT UNNEST(RANGE(1, {d + 1})) AS i)"
    parts = [
        f"""
WITH {_sample_sql()},
t AS (SELECT vec_id, v, nt FROM tr),
dmu AS (
  SELECT d.i AS dim,
         LIST_REDUCE(LIST(t.v[d.i] ORDER BY t.vec_id), (a, x) -> a + x)
           / MAX(t.nt) AS mu
  FROM t CROSS JOIN {dims} d GROUP BY d.i
),
mu AS (SELECT LIST(mu ORDER BY dim) AS m FROM dmu),
v0 AS (SELECT LIST_TRANSFORM(RANGE(1, {d + 1}), i -> 0.125) AS vec,
              0.0 AS nrm)"""
    ]
    for k in range(PCA_ITERS):
        parts.append(f"""
d{k} AS (
  SELECT t.vec_id,
         LIST_REDUCE(LIST_TRANSFORM(RANGE(1, {d + 1}),
           i -> (t.v[i] - m.m[i]) * vk.vec[i]), (a, x) -> a + x) AS dot
  FROM t CROSS JOIN mu m CROSS JOIN v{k} vk
),
w{k} AS (
  SELECT d.i AS dim,
         LIST_REDUCE(LIST(dk.dot * (t.v[d.i] - m.m[d.i])
                          ORDER BY t.vec_id), (a, x) -> a + x) AS w
  FROM d{k} dk JOIN t USING (vec_id) CROSS JOIN mu m
  CROSS JOIN {dims} d
  GROUP BY d.i
),
wl{k} AS (SELECT LIST(w ORDER BY dim) AS wv FROM w{k}),
v{k + 1} AS (
  SELECT LIST_TRANSFORM(wv, x -> x / SQRT(
           LIST_REDUCE(LIST_TRANSFORM(wv, y -> y * y), (a, b) -> a + b)
         )) AS vec,
         SQRT(LIST_REDUCE(LIST_TRANSFORM(wv, y -> y * y),
                          (a, b) -> a + b)) AS nrm
  FROM wl{k}
)""")
    parts.append(f"""
proj AS (
  SELECT e.vec_id, e.label,
         LIST_REDUCE(LIST_TRANSFORM(RANGE(1, {d + 1}),
           i -> (e.v[i] - m.m[i]) * vk.vec[i]), (a, x) -> a + x) AS pr
  FROM e CROSS JOIN mu m CROSS JOIN v{PCA_ITERS} vk
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(pr), 6) AS mean_proj,
       ROUND(MIN(pr), 6) AS min_proj,
       ROUND(MAX(pr), 6) AS max_proj,
       ROUND((SELECT MAX(vk.nrm) / MAX(t.nt) FROM v{PCA_ITERS} vk, t), 6)
         AS eigval
FROM proj
GROUP BY label""")
    return ",".join(parts)


def _pca_train(emb: "DataFrame"):
    """Deterministic bounded power-iteration training. Returns
    (mu, v, eigval): float64 arrays of PCA_DIM plus the top
    eigenvalue estimate. Every reduction is a sequential left fold in
    the same order as the SQL oracle's LIST_REDUCE calls."""
    import numpy as np

    from ytspark.operators.similarity import training_sample

    _, X = training_sample(emb)
    nt = X.shape[0]
    acc = X[0].copy()
    for i in range(1, nt):
        acc = acc + X[i]
    mu = acc / nt
    B = X - mu
    v = np.full(PCA_DIM, 0.125)
    nrm = 0.0
    for _ in range(PCA_ITERS):
        dots = B[:, 0] * v[0]
        for j in range(1, PCA_DIM):
            dots = dots + B[:, j] * v[j]
        w = dots[0] * B[0]
        for i in range(1, nt):
            w = w + dots[i] * B[i]
        nacc = w[0] * w[0]
        for j in range(1, PCA_DIM):
            nacc = nacc + w[j] * w[j]
        nrm = float(np.sqrt(nacc))
        v = w / nrm
    return mu, v, nrm / nt


@register(
    "embedding_pca_power",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the embedding corpus via "
        f"{PCA_ITERS} unrolled power-method iterations — the variance "
        "probe a training-data pipeline runs before whitening or "
        "dimension reduction. Training follows the engine's bounded "
        "deterministic discipline: a Knuth-strided sample (driver "
        "holds <= ~2x IVF_TRAIN_CAP vectors at ANY corpus size), "
        "vec_id-ordered left-fold reductions, fixed iteration count "
        "— so the DuckDB oracle replays the IDENTICAL float sequence "
        "as chained CTEs and the learned component is bit-exact "
        "cross-engine. Serving is distributed and map-only: mean and "
        "component ride into the plan as literal arrays, each "
        "embedding's projection is a zip_with+aggregate fold (JVM "
        "codegen, no shuffle), and the per-label projection stats "
        "(count / mean / min / max, plus the eigenvalue) are one "
        "small aggregate. The projection scan is the only big input "
        "at 100 TB.",
    tags=("learn", "pca", "embedding", "clustering", "iterative"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    mu, v, eigval = _pca_train(emb)
    mu_arr = F.array(*[F.lit(float(x)) for x in mu])
    v_arr = F.array(*[F.lit(float(x)) for x in v])
    centered = F.zip_with(
        F.transform("embedding", lambda x: x.cast("double")),
        mu_arr,
        lambda x, m: x - m,
    )
    proj = F.aggregate(
        F.zip_with(centered, v_arr, lambda c, w: c * w),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        emb.select("label", proj.alias("pr"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("pr"), 6).alias("mean_proj"),
            F.round(F.min("pr"), 6).alias("min_proj"),
            F.round(F.max("pr"), 6).alias("max_proj"),
        )
        .withColumn("eigval", F.round(F.lit(float(eigval)), 6))
    )


# ---------------------------------------------------------------------------
# Label centroids + pairwise cosine (embedding-space class geometry)
# ---------------------------------------------------------------------------

CENTROID_DEC = "decimal(20,10)"  # exact, order-free component sums


@register(
    "label_centroid_similarity",
    oracle=f"""
WITH x AS (
  SELECT label,
         UNNEST(generate_series(1, len(embedding))) AS pos,
         UNNEST(embedding::DOUBLE[]) AS val
  FROM embeddings
),
m AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*)
           AS mv
  FROM x GROUP BY label, pos
),
c AS (
  SELECT label, LIST(mv ORDER BY pos) AS centroid
  FROM m GROUP BY label
),
n AS (SELECT label, COUNT(*) AS nv FROM embeddings GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(na.nv AS BIGINT) AS n_a, CAST(nb.nv AS BIGINT) AS n_b,
       ROUND(LIST_DOT_PRODUCT(a.centroid, b.centroid)
             / (SQRT(LIST_DOT_PRODUCT(a.centroid, a.centroid))
                * SQRT(LIST_DOT_PRODUCT(b.centroid, b.centroid))), 6)
         AS cos_sim
FROM c a JOIN c b ON a.label < b.label
JOIN n na ON na.label = a.label
JOIN n nb ON nb.label = b.label
""",
    doc="Embedding-space class geometry: the mean-pooled centroid of "
        "each label's vectors, then pairwise cosine between "
        "centroids — the confusability probe (near-parallel "
        "centroids = classes the embedding can't separate) and the "
        "input to centroid-based routing. Centroid components are "
        "EXACT by construction: per-(label, dim) sums run over "
        "DECIMAL-cast components (order-free, unlike float "
        "summation), divided once in double — so both engines hold "
        "bit-identical centroids, and the cosine runs as the "
        "engine's sequential left-to-right fold, matching DuckDB's "
        "LIST_DOT_PRODUCT evaluation order exactly (the "
        "knn_cosine_bruteforce discipline). One explode + one "
        "(label, dim)-keyed aggregate sees the data; the pairwise "
        "stage is |labels|^2 tiny rows. At 100 TB mean-pooling is "
        "map-side combinable and the centroid table broadcasts.",
    tags=("clustering", "embedding", "centroid", "aggregate", "hof"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.operators.similarity import dot

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    x = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    m = x.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast(CENTROID_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("mv")
    )
    c = m.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "mv")))
        .getField("mv")
        .alias("centroid")
    )
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("nv"))
    a = c.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = c.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    na = n.select(F.col("label").alias("label_a"), F.col("nv").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("nv").alias("n_b"))
    pairs = (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
    )
    cos = dot(F.col("ca"), F.col("cb")) / (
        F.sqrt(dot(F.col("ca"), F.col("ca")))
        * F.sqrt(dot(F.col("cb"), F.col("cb")))
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(cos, 6).alias("cos_sim"),
    )

"""Similarity search over embedding columns (net-new, per the task brief).

- ``brute_force_topk``: exact cosine top-k. The query side is tiny and
  broadcast; the corpus side streams through one narrow pass + a top-k
  window. All math is double-precision Spark SQL (zip_with/aggregate), so
  a DuckDB oracle can reproduce it.
- ``lsh_topk``: random-hyperplane bucketed ANN — the 100 TB path. Each
  corpus vector lands in one bucket (one int key); queries probe their
  bucket (and optionally multi-probe neighbors). Recall < 1 by design; the
  brute-force operator is its correctness baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cosine_expr(a: Column, b: Column) -> Column:
    """Double-precision cosine of two array<float> columns, JVM-side.

    The denominator is floored at 1e-300: bit-identical for any real
    vector (norms ≫ 1e-300) but a zero-norm embedding — dead docs exist
    in real corpora — yields cosine 0.0 instead of an ANSI
    DIVIDE_BY_ZERO job abort. The DuckDB twin applies the same floor."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / F.greatest(na * nb, F.lit(1e-300))


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rk) — exact top-k per query vector.

    Plan: broadcast the |Q| query vectors, cross-join against the corpus
    (narrow: each corpus partition sees all queries), window top-k. The
    corpus is scanned exactly once regardless of |Q|.
    """
    # r7: the |Q| query vectors are collected (bounded) and every corpus
    # vector scores against all of them in one vectorized Arrow pass.
    # Bit-exact vs the old per-row `cosine_expr` HOF fold: the numpy
    # loop accumulates dimension-by-dimension in the SAME left-to-right
    # order as the SQL `aggregate` (acc = acc + x_j*y_j), casts are the
    # same float→double, and the 1e-300 denominator floor is identical —
    # so every rounded cosine is unchanged.
    q_rows = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    qids = [int(r["query_id"]) for r in q_rows]
    qmat = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
    nb = np.zeros(len(qids), dtype=np.float64)
    for j in range(qmat.shape[1]):
        nb += qmat[:, j] * qmat[:, j]
    nb = np.sqrt(nb)

    @F.pandas_udf("array<double>")
    def cos_all(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        m = len(mat)
        dot = np.zeros((m, len(qids)), dtype=np.float64)
        na = np.zeros(m, dtype=np.float64)
        for j in range(mat.shape[1]):
            cj = mat[:, j]
            dot += cj[:, None] * qmat[None, :, j]
            na += cj * cj
        na = np.sqrt(na)
        cos = dot / np.maximum(na[:, None] * nb[None, :], 1e-300)
        return pd.Series(list(cos))

    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode(cos_all.asNondeterministic()(F.col(vec_col))).alias(
                "_qpos", "cosine"
            ),
        )
        .select(
            F.element_at(qid_arr, F.col("_qpos") + 1).alias("query_id"),
            "neighbor_id",
            "cosine",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


# Quantization grid for bucket hashing: 1e-6 of a unit component. Signs of
# the plane dot products are then EXACT integer arithmetic — reproducible
# across engines (no float summation-order hazard) and checkable in SQL.
BUCKET_QUANT = 1_000_000


def plane_signs(n_planes: int, dim: int, seed: int = 7) -> np.ndarray:
    """±1 (Rademacher) hyperplane matrix — the sign-random-projection LSH
    family (same angle-preserving guarantee class as Gaussian planes). A
    tiny constant shared verbatim by the Spark UDF and the DuckDB oracle."""
    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(n_planes, dim)) * 2 - 1).astype(np.int64)


def quantize_components(mat: np.ndarray) -> np.ndarray:
    """float components → int64 grid: floor(x·1e6 + 0.5). floor(+0.5) (not
    rint/round) because it is identically defined in numpy and SQL for
    halfway values and negatives."""
    return np.floor(mat.astype(np.float64) * BUCKET_QUANT + 0.5).astype(np.int64)


def hyperplane_bucket_udf(n_planes: int = 16, seed: int = 7, dim: int | None = None):
    """Pandas UDF: embedding → int bucket (sign pattern over ±1 planes on
    quantized integer components; bit p set iff dot ≥ 0).

    The plane matrix is derived from the seed inside the worker — tiny,
    deterministic, no broadcast needed. Integer end-to-end, so
    __spark_entry__'s DuckDB twins recompute identical buckets.
    """
    state: dict = {}

    @F.pandas_udf("long")
    def bucket(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())
        if "p" not in state:
            state["p"] = plane_signs(n_planes, mat.shape[1], seed)
        dots = quantize_components(mat) @ state["p"].T  # (N, P) exact int64
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        return pd.Series((dots >= 0).astype(np.int64) @ weights)

    return bucket


def probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """All XOR masks within Hamming distance ``probe_bits`` of a bucket
    (mask 0 = the exact bucket), in deterministic order."""
    import itertools

    masks = [0]
    for r in range(1, probe_bits + 1):
        for combo in itertools.combinations(range(n_planes), r):
            masks.append(sum(1 << i for i in combo))
    return masks


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket,
    or (multi-probe) a bucket within Hamming distance ``probe_bits``.

    At scale the corpus is written bucketed/partitioned by this key, so a
    query probes Σ C(n_planes, r≤probe_bits) partitions instead of the
    full table.
    """
    bucket = hyperplane_bucket_udf(n_planes=n_planes, seed=seed)
    with_b = emb.withColumn("bucket", bucket(F.col(vec_col)))
    q = with_b.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    # Multi-probe: explode the query row into every bucket within Hamming
    # distance probe_bits — broadcast side stays tiny.
    if probe_bits >= 1:
        probes = F.array(
            *[
                F.col("qbucket").bitwiseXOR(F.lit(m))
                for m in probe_masks(n_planes, probe_bits)
            ]
        )
        q = q.select(
            "query_id", "qv", F.explode(probes).alias("qbucket")
        )
    cand = with_b.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col("qv"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


# Knuth multiplicative hash constant — deterministic pseudo-random centroid
# sampling computable identically in Spark SQL and DuckDB (plain integer
# arithmetic; xxhash64 exists only on the Spark side).
KNUTH = 2_654_435_761


def _int_l2(a: Column, b: Column) -> Column:
    """Exact integer squared-L2 between two quantized arrays. Pure int64
    (no float summation-order hazard): (2e6)² · dim ≪ 2^63."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def kmeans_centroids(
    emb: DataFrame,
    n_lists: int = 32,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """(list_id, cvec) trained coarse centroids via
    ``pyspark.ml.clustering.KMeans`` — the production quantizer for
    :func:`ivf_topk` (``quantizer='kmeans'``). Distributed Lloyd
    iterations (each is one broadcast of k centers + a map-side-combined
    partial-sum aggregation, the same shape as the assignment step), so
    training scales to the full corpus; centers are deterministic for a
    fixed seed. list_id order: centers sorted by their component tuple so
    the id assignment is stable regardless of MLlib's internal center
    order."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(vecs)
    centers = sorted(tuple(float(x) for x in c) for c in model.clusterCenters())
    return emb.sparkSession.createDataFrame(
        [(i, list(c)) for i, c in enumerate(centers)],
        "list_id int, cvec array<double>",
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 32,
    n_probe: int = 4,
    quantizer: str = "sampled",
) -> DataFrame:
    """IVF-style ANN: inverted lists under a coarse quantizer, queries
    probe the ``n_probe`` nearest lists, exact cosine re-rank inside the
    probed lists only (the task brief's "IVF variant" next to
    :func:`lsh_topk`).

    ``quantizer='sampled'`` (default): coarse centroids are the
    ``n_lists`` corpus vectors with the smallest Knuth multiplicative
    hash of their id — a deterministic, bit-reproducible, SQL-expressible
    sample (so the whole operator gets a FULL DuckDB gate; iterative
    KMeans has no SQL twin). ``quantizer='kmeans'`` swaps in trained
    :func:`kmeans_centroids` with the IDENTICAL assignment/probe/re-rank
    plan — higher recall at equal n_probe (lists follow the data's
    density instead of a random sample; pinned by
    tests/test_operators.py::test_ivf_kmeans_quantizer_recall).

    Exactness discipline: list ASSIGNMENT is argmin of integer squared-L2
    on the 1e-6 quantized grid (no float order hazard ⇒ both engines
    assign identically); only the final ranking cosine is float, rounded
    at 6 with id tie-break like every embedding gate.

    Scale shape: assignment is one broadcast of ``n_lists`` centroids +
    a map-side-combined min_by aggregation (no window over the corpus —
    the ≤n_lists centroid ids are collected to the driver, a bounded
    O(n_lists) action, instead of ranking them under a partitionless
    window); at rest the corpus would be written bucketed by ``list_id``
    so a query reads only its probed lists.
    """
    # r7 assignment shape: coarse centroids are BOUNDED (n_lists rows) —
    # collect them once (the 'sampled' path already collected its ids)
    # and assign every corpus vector in one vectorized Arrow pass: the
    # old corpus × n_lists crossJoin evaluated the interpreted `_int_l2`
    # aggregate-HOF per (row, centroid) — measured ~5 s of ann_ivf's
    # 6.9 s at sf1.0. Arithmetic is the SAME exact int64 quantized L2
    # (floor(x·1e6+0.5) grid), and np.argmin's first-minimum tie-break
    # equals the old min_by struct(l2q, list_id) ordering.
    spark = emb.sparkSession
    if quantizer == "kmeans":
        crows = kmeans_centroids(emb, n_lists, vec_col).collect()
        cent_vecs = [list(r["cvec"]) for r in sorted(crows, key=lambda r: r["list_id"])]
    elif quantizer == "sampled":
        h = (F.col(id_col) * F.lit(KNUTH)) % F.lit(2**32)
        sampled = (
            emb.orderBy(h.asc(), F.col(id_col).asc())
            .limit(n_lists)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        )
        # bounded by n_lists; ordered by the same (hash, id) key the SQL
        # ordering used (exact integer arithmetic)
        srows = sorted(
            sampled.collect(), key=lambda r: ((r["cid"] * KNUTH) % 2**32, r["cid"])
        )
        cent_vecs = [list(r["cvec"]) for r in srows]
    else:
        raise ValueError(f"unknown quantizer {quantizer!r} (sampled|kmeans)")

    cq_mat = quantize_components(np.array(cent_vecs, dtype=np.float64))

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())
        vq = quantize_components(mat)  # (N, dim) int64, exact grid
        n = len(vq)
        out = np.empty(n, dtype=np.int32)
        # chunked: the (chunk, L, dim) int64 diff cube stays cache-sized
        # (a whole-batch cube is ~160 MB and measured memory-bound).
        # Exact: diffs ≤ 4e6 → squares ≤ 1.6e13, × dim ≪ 2^63; argmin's
        # first-minimum tie-break = min_by struct(l2q, list_id).
        for s in range(0, n, 512):
            ch = vq[s : s + 512]
            d = ch[:, None, :] - cq_mat[None, :, :]
            out[s : s + 512] = np.argmin((d * d).sum(axis=2), axis=1).astype(
                np.int32
            )
        return pd.Series(out)

    # asNondeterministic: the join's pushed-down null filter otherwise
    # duplicates the UDF (one BatchEval under the filter, one for the
    # projection) — the guide-§4.4 double-evaluation trap; the function
    # is pure, so values are unchanged.
    assign = assign.asNondeterministic()
    assigned = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        assign(F.col(vec_col)).alias("list_id"),
    )

    # probe selection is |Q| × n_lists driver-side integer math over the
    # collected query vectors (bounded by len(query_ids))
    qrows = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    probe_rows = []
    for r in qrows:
        qq = quantize_components(np.array([list(r["qv"])], dtype=np.float64))[0]
        l2 = ((cq_mat - qq) ** 2).sum(axis=1)
        for li in sorted(range(len(cent_vecs)), key=lambda i: (int(l2[i]), i))[:n_probe]:
            probe_rows.append((r["query_id"], list(r["qv"]), li))
    probes = spark.createDataFrame(
        probe_rows, f"query_id long, qv array<{'float'}>, list_id int"
    )

    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_expr(F.col("qv"), F.col("v")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )

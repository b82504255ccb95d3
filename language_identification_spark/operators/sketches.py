"""Sketch-based aggregation — the bounded-memory metric family for
100 TB inputs, complementing the exact twins used as correctness gates.

Three sketches cover the metrics a quality pipeline monitors per shard:
- distinct counts (users, hosts, fingerprints): HyperLogLog++ via
  ``approx_count_distinct`` — a fixed ~``(1.04/rsd)^2``-register sketch
  per group, MERGEABLE across partitions/shards (map-side partial merge,
  no row set ever materializes), vs exact ``count(distinct)`` which
  shuffles every distinct value;
- quantiles: Greenwald-Khanna via ``approx_percentile`` (see
  ``events_quantiles_approx`` in ``__spark_entry__``), vs exact
  ``percentile()`` which buffers whole groups;
- heavy hitters: :func:`certified_top_terms` — per-partition partial
  top-``capacity`` + an exactness certificate + exact rescore of the
  candidate set only, vs full-vocabulary hash aggregation.

HLL/GK sketch internals differ per engine, so those two have no
bit-exact DuckDB twin; the driver gate checks rows/schema and pytest
asserts the published error bound against the exact result
(tests/test_misc_ops.py::test_approx_distinct_error_bound). The heavy
hitter sketch is different: its runtime certificate proves the output
EQUALS the exact top-k, so it carries a FULL gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import pair_cache_scope, scoped_persist


def approx_distinct_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """(group_cols..., n_approx, n_rows): HLL++ distinct count of
    ``value_col`` per group. ``rsd`` is the target relative standard
    deviation (Spark's HLL++ parameter); expected relative error is
    ~``rsd`` (the bound test asserts 5·rsd to keep the assertion
    deterministic-ish at gate scale). At 100 TB this is the ONLY shape
    that answers "how many distinct users/hosts per shard" without
    shuffling every distinct value: the ~1.5 KB (rsd=0.05) register
    array merges associatively, so partial aggregation happens map-side
    and re-aggregating shard sketches into a corpus total is another
    merge, not a recount."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd=rsd).alias("n_approx"),
        F.count("*").alias("n_rows"),
    )


def exact_distinct_by(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Exact twin of :func:`approx_distinct_by` (correctness/oracle
    path; buffers the distinct value set — gate-scale only)."""
    return df.groupBy(*group_cols).agg(
        F.countDistinct(value_col).alias("n_exact"),
        F.count("*").alias("n_rows"),
    )


def certified_top_terms(
    df: DataFrame,
    terms_col,
    k: int = 40,
    capacity: int = 8192,
) -> DataFrame:
    """EXACT top-``k`` terms by count with deterministic (-count, term)
    tie-break — computed the 100 TB way: a per-partition partial-top-
    ``capacity`` sketch finds candidates, an exactness CERTIFICATE proves
    no true heavy hitter was truncated away, and only the (tiny,
    broadcastable) candidate set is ever exactly recounted.

    Why not plain groupBy+orderBy (the ``vocab_topk`` gate shape)? That
    shuffles the ENTIRE term table — at web scale the long unique tail
    (urls, typos, hashes) is billions of rows shuffled to find a top-50.
    Here the shuffle is bounded by partitions × capacity regardless of
    corpus size:

    1. **Partial pass** (``mapInPandas``, vectorized ``value_counts``):
       each partition emits its top-``capacity`` terms by LOCAL count,
       plus one sentinel row carrying the truncation threshold — the
       largest local count it dropped (0 when nothing was dropped).
    2. **Candidate merge**: summed partial counts. Any term absent from
       EVERY partial has true count ≤ E = Σ per-partition thresholds
       (it was below the threshold everywhere), so candidates ⊇ every
       term with count > E.
    3. **Exact rescore**: the term stream is re-scanned (second narrow
       pass, same rationale as boilerplate's two scans — caching the
       exploded terms would cost more than re-exploding) and semi-joined
       on the candidate set, which broadcasts; exact counts come from
       one small groupBy.
    4. **Certificate**: if the exact k-th count > E, the true top-k is
       provably inside the candidate set and the result is EXACT — this
       is checked at runtime and the operator RAISES if the corpus is
       too adversarial for the capacity (undercounting silently is the
       one thing a graded gate must never do). Hence the FULL DuckDB
       gate (``heavy_hitters_topk``): the oracle is the plain exact SQL
       top-k, legitimately, because the certificate ran.

    ``terms_col``: array<string> Column (e.g. ``words(F.col("text"))``);
    null/empty arrays contribute nothing.
    """
    import pandas as pd

    spark = df.sparkSession
    terms = df.select(F.explode(terms_col).alias("t"))

    def partial_topm(pdfs):
        acc: list = []
        for pdf in pdfs:
            acc.append(pdf["t"].value_counts())
        if not acc:
            return
        counts = acc[0] if len(acc) == 1 else (
            pd.concat(acc, axis=0).groupby(level=0).sum()
        )
        counts = counts.sort_values(ascending=False, kind="mergesort")
        kept = counts.iloc[:capacity]
        thr = int(counts.iloc[capacity:].max()) if len(counts) > capacity else 0
        out = pd.DataFrame(
            {"t": kept.index.astype(str), "c": kept.to_numpy("int64")}
        )
        # sentinel row carries the truncation threshold; concat (not
        # loc-append) keeps c int64 for the Arrow transfer
        sent = pd.DataFrame({"t": pd.array([None], dtype=object), "c": [thr]})
        yield pd.concat([out, sent], ignore_index=True)

    # The partial table (≤ partitions × (capacity+1) rows) feeds the
    # error bound, the candidate set, and nothing else; it stays
    # distributed — only the 1-row bound and the k-row result are ever
    # collected, so the driver footprint is O(k) no matter the fleet.
    with pair_cache_scope():
        partials = scoped_persist(
            terms.mapInPandas(partial_topm, "t string, c long")
        )
        err_bound = (
            partials.filter(F.col("t").isNull()).agg(F.sum("c")).first()[0] or 0
        )
        cand_df = partials.filter(F.col("t").isNotNull()).select("t").distinct()
        exact = (
            terms.join(F.broadcast(cand_df), "t", "left_semi")
            .groupBy("t")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("t"))
            .limit(k)
        )
        top = exact.collect()
    # Certificate: every non-candidate term has true count <= err_bound.
    # Uncertifiable iff (a) the k-th candidate count doesn't beat the
    # bound, or (b) fewer than k candidates exist AT ALL while truncation
    # happened somewhere (a dropped term could then fill the short list).
    if (len(top) == k and top[-1]["cnt"] <= err_bound) or (
        len(top) < k and err_bound > 0
    ):
        kth = top[-1]["cnt"] if top else 0
        raise RuntimeError(
            f"certified_top_terms: k-th count {kth} (n={len(top)}) <= "
            f"error bound {err_bound}; a truncated term could outrank "
            f"it — raise capacity (={capacity})"
        )
    return spark.createDataFrame(top, "t string, cnt long")

"""Deduplication operators for web-scale training-data pipelines (net-new;
no reference counterpart — first-class per the task brief).

Four families, each with the partitioning story that survives 100 TB:

- **Exact** (`exact_duplicate_groups`): one shuffle on sha256(text). At
  scale the 32-byte digest, not the document, is the shuffle key.
- **Jaccard / n-gram** (`jaccard_similar_pairs`): exact char-shingle
  Jaccard via a shingle-inverted-index self-join. Quadratic in the worst
  case — the correctness oracle for the approximate methods, and usable
  standalone after LSH has cut candidates.
- **MinHash + LSH** (`minhash_signatures`, `minhash_lsh_candidates`,
  `minhash_near_duplicates`): one vectorized Arrow pass hashes each
  doc's distinct char shingles to 64-bit ints (functions/wordhash) → 64
  affine permutations as one numpy matrix-min per doc → band-hash
  buckets → within-bucket self-join → exact-Jaccard verify over the SAME
  shingle-hash arrays (shared, persisted base — computed once). The
  scale path: only band-bucket collisions are ever joined, and shuffles/
  broadcasts carry 8-byte hashes, never gram strings.
- **SimHash** (`simhash_64`): 64-bit signature via a vectorized pandas UDF
  (bit-twiddling is numpy's home turf), banded for Hamming-≤k candidate
  pairing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codepoints import FNV_OFFSET, encode, fnv1a_step
from ..functions.wordhash import char_gram_hashes_udf
from .cache import local_checkpoint, scoped_persist
from .cache import pair_cache_scope  # noqa: F401  (re-export: bench.py, perfbench)

# 31-bit Mersenne prime: (a*h+b) stays < 2^62, safe for int64 ANSI math
MERSENNE31 = (1 << 31) - 1


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(canonical_id, n_dups) per group of byte-identical texts (n_dups>1).

    Hash-groupBy on sha256 — never shuffles raw documents at scale.
    """
    h = F.sha2(F.col(text_col), 256).alias("h")
    return (
        df.select(h, F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select("canonical_id", "n_dups")
    )


def exact_incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    corpus_digests: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """New documents whose text is NOT byte-identical to anything already
    in the corpus — the exact-dedup leg of the daily-crawl shape
    (:func:`incremental_near_duplicates` is the near-dup leg; within-shard
    exact dups are :func:`exact_duplicate_groups`' job, not this one's).

    Anti-join on sha256 digests: the shuffle carries 32-byte digests and
    ids, never document text, and left_anti deduplicates the corpus side
    by construction so no ``distinct()`` shuffle is spent on it. At
    corpus scale pass ``corpus_digests`` — a persisted one-column
    ``digest`` table maintained incrementally as shards land (the exact
    analogue of reusing :func:`minhash_band_index` for the near-dup leg)
    — so the corpus text is never rescanned per incoming shard.
    """
    if corpus_digests is None:
        if corpus_df is None:
            raise ValueError("pass corpus_df or corpus_digests")
        corpus_digests = corpus_df.select(
            F.sha2(F.col(text_col), 256).alias("digest")
        )
    new_h = new_df.withColumn("_digest", F.sha2(F.col(text_col), 256))
    return new_h.join(
        corpus_digests.select(F.col("digest").alias("_digest")),
        "_digest",
        "left_anti",
    ).drop("_digest")


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh ARRAY<BIGINT>): sorted-distinct 64-bit char-n-gram hashes
    per doc — the shingle-set transport shared by the signature AND
    verify stages (r7). Hashes, not gram strings: the shuffle/broadcast
    payload halves, ``array_intersect`` runs on longs, and the hash is an
    engine-side choice (the oracles recompute Jaccard on strings; a
    64-bit collision inside one pair's ~10³ shingles is ~1e-13). One
    vectorized Arrow pass replaces the interpreted ``char_ngrams``
    zip_with chain (measured ~3× at web-doc lengths)."""
    return df.select(
        F.col(id_col).alias("id"),
        char_gram_hashes_udf(n)(F.col(text_col)).alias("sh"),
    )


def _distinct_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return _shingle_sets(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("shingle")
    )


def jaccard_similar_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with exact char-n-gram Jaccard ≥ t.

    Inverted-index join: docs sharing ≥1 shingle meet once per shared
    shingle; groupBy(pair) counts the intersection; union by
    inclusion-exclusion. ``id_a < id_b`` dedups the symmetric pair.
    """
    sh = _distinct_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bucket_self_join(
    banded: DataFrame,
    key_cols: list[str],
    max_bucket: int | None,
) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from a (id, *key_cols) bucket
    table, with a hot-bucket guard.

    Buckets ≤ ``max_bucket`` do the normal within-bucket all-pairs join.
    Oversized buckets (boilerplate floods: at web scale a near-identical
    template can put millions of ids in one bucket, and all-pairs is O(k²))
    instead emit STAR pairs (bucket-min id ↔ every other member): O(k)
    pairs that still link every member to a canonical representative, which
    is what dedup grouping consumes; the exact-similarity verify stage
    filters them like any other candidate. ``max_bucket=None`` disables the
    guard (exact all-pairs semantics).

    Plan shape: the hot-bucket list is found with one map-side-combined
    aggregation and is TINY by construction (only buckets with >max_bucket
    members), so it broadcasts to route rows — no window sort over the
    full banded table. ``banded`` feeds several consumers (hot scan + both
    join sides + star), and its lineage usually contains an expensive
    signature UDF, so it is persisted through :func:`scoped_persist`: the
    active :func:`pair_cache_scope` frees it on exit, and outside any
    scope the MEMORY_AND_DISK blocks live as long as the SparkContext.
    """
    if max_bucket is not None:
        banded = scoped_persist(banded)
        hot = (
            banded.groupBy(*key_cols)
            .agg(F.count("*").alias("_bsz"), F.min("id").alias("_bmin"))
            .filter(F.col("_bsz") > max_bucket)
        )
        small = banded.join(F.broadcast(hot.select(*key_cols)), key_cols, "left_anti")
        star = (
            banded.join(F.broadcast(hot), key_cols)
            .filter(F.col("id") != F.col("_bmin"))
            .select(F.col("_bmin").alias("id_a"), F.col("id").alias("id_b"))
        )
    else:
        small, star = banded, None
    a, b = small.alias("a"), small.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    pairs = a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    if star is not None:
        pairs = pairs.unionAll(star)
    return pairs.distinct()


def _perm_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE31, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, MERSENNE31, size=n_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _signatures_from_shingles(
    base: DataFrame, n_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(id, sig) from a :func:`_shingle_sets` table — the shared-base
    form: callers that also verify (minhash_near_duplicates) persist
    ``base`` once and feed both stages from it."""
    params = _perm_params(n_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig_udf(hash_arrays: pd.Series) -> pd.Series:
        # Deliberately per-doc, measured: each doc's (S × 64) affine
        # matrix (~150 KB at 300 shingles) already amortizes numpy call
        # overhead AND stays L2-resident. A reduceat-batched variant (the
        # serving scorers' pattern) measured 25-60% SLOWER at every chunk
        # size tried (4K/16K/64K shingles) — the batch matrix leaves L2
        # and the min-reduction is bandwidth-bound. Batch only what is
        # overhead-bound; this one is compute-bound at the right size.
        out = []
        empty = np.full(len(a_vec), MERSENNE31 - 1, dtype=np.int64)
        for h in hash_arrays:
            if h is None or len(h) == 0:
                out.append(empty)
                continue
            # 64-bit shingle hash → the 31-bit permutation domain
            hv = (np.abs(np.asarray(h, dtype=np.int64)) % MERSENNE31)[:, None]
            out.append(((hv * a_vec + b_vec) % MERSENNE31).min(axis=0))
        return pd.Series(out)

    return base.select("id", sig_udf(F.col("sh")).alias("sig"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[n_hashes]) — vectorized Arrow + numpy, no
    shuffle.

    Shingle hashing is one whole-batch numpy pass (``functions.wordhash``
    — r7: the previous JVM ``char_ngrams`` + per-shingle ``xxhash64``
    chain was CodegenFallback-interpreted and re-evaluated its ``split``
    per slice); the 64 affine permutations + min-reduction run as ONE
    numpy matrix op per doc. The all-SQL variant (64 interpreted
    ``transform`` lambdas per row) measured ~25× slower at bench time.
    """
    return _signatures_from_shingles(
        _shingle_sets(df, id_col, text_col, n), n_hashes, seed
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    n_hashes: int = 64,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(id_a, id_b) candidate pairs: equal band-hash in ≥1 of ``bands``
    bands. Shuffle key = (band_idx, band_hash) — collision buckets only.

    CONTRACT when the guard triggers: in any bucket larger than
    ``max_bucket`` only STAR pairs (bucket-min ↔ member) are emitted — a
    spanning SUBSET of the bucket's pairs, sufficient for connected-
    component dedup grouping but NOT an exhaustive pair enumeration
    (member↔member pairs of a flooded bucket are dropped). Pass
    ``max_bucket=None`` for exact all-pairs semantics. Materialize the
    result inside a :func:`pair_cache_scope` (see ``_bucket_self_join``)."""
    banded = _band_table(sigs, bands, n_hashes)
    return _bucket_self_join(banded, ["band", "bh"], max_bucket)


def _band_table(sigs: DataFrame, bands: int, n_hashes: int) -> DataFrame:
    """(id, band, bh): one xxhash64 per signature band (the LSH bucket
    key). Shared by the self-join candidates and the incremental index."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i * rows_per_band + j].cast("string")
                                    for j in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("e"),
    ).select("id", "e.band", "e.bh")


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bh) LSH index of an EXISTING corpus, for incremental
    dedup of incoming shards (the operation a 100 TB pipeline runs per
    crawl: "is this page already in the corpus?").

    At scale, write this table bucketed by ``bh`` (sources/catalog.
    write_bucketed) so the daily shard join in
    :func:`incremental_near_duplicates` co-locates without reshuffling
    the (much larger) index side."""
    sigs = minhash_signatures(df, id_col, text_col, n, n_hashes, seed)
    return _band_table(sigs, bands, n_hashes)


def incremental_near_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    candidate_first: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, jaccard ≥ threshold): incoming documents that
    near-duplicate something ALREADY IN the corpus.
    ``candidate_first`` picks the verify shape. Default True — the
    OPPOSITE of :func:`minhash_near_duplicates`, per the fixed-harness
    r5 A/B at 1.28M docs / ~1% planted dups (BENCH.md): here the corpus
    side is unbounded and only the ~1% of corpus docs that collide with
    the new shard ever need verify shingles, so semi-joining the corpus
    on the (tiny, broadcastable) candidate-id set before shingling
    skips shingle work over ~99% of the corpus — measured 1.10× faster
    with broadcast joins on and 1.17× with them off, i.e. it wins in
    BOTH broadcast regimes, and the margin grows with corpus size since
    the avoided work is O(corpus). Identical output either way
    (test_candidate_first_ab_equivalence).

    Differences vs :func:`minhash_near_duplicates` (same-shard dedup):
    only new×corpus pairs are considered (new×new belongs to the shard's
    own dedup pass; corpus×corpus was handled when the corpus was built),
    and the corpus side is a precomputed ``index`` (pass the persisted
    :func:`minhash_band_index` table; defaults to computing it inline).
    The verify stage is the same exact-Jaccard per-candidate-pair
    ``array_intersect`` — no candidate survives on LSH evidence alone.
    """
    if index is None:
        index = minhash_band_index(corpus_df, id_col, text_col, n, n_hashes, bands, seed)
    # r7: the new shard's shingle sets feed both its signatures and its
    # verify side — unpersisted like minhash_near_duplicates' base (the
    # measured cache-thrash result there; the new shard is usually small
    # but the same discipline keeps the operator scale-safe). The corpus
    # side is NOT pre-shingled here: its verify shingles are computed
    # only where needed (after the candidate semi-join in the default
    # candidate_first shape — the whole point of that A/B winner).
    new_base = _shingle_sets(new_df, id_col, text_col, n)
    new_sigs = _signatures_from_shingles(new_base, n_hashes, seed)
    new_bands = _band_table(new_sigs, bands, n_hashes)
    cand = (
        new_bands.join(
            index.select(F.col("id").alias("corpus_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select(F.col("id").alias("new_id"), "corpus_id")
        .distinct()
    )
    # candidate_first=True: semi-join the corpus side on the candidate id
    # set BEFORE computing its shingle sets — skips the O(corpus) shingle
    # pass for the ~99% of corpus docs with no colliding band (the r5
    # measured winner in both broadcast regimes). Only that shape gives
    # ``cand`` multiple consumers (two semi-joins + the verify join), so
    # only it persists (released with the active scope); the
    # default path consumes ``cand`` exactly once and a persist would be
    # pure cache-write overhead at corpus scale.
    shn_src = new_base
    shc_src = corpus_df
    if candidate_first:
        cand = scoped_persist(cand)
        shn_src = new_base.join(
            cand.select("new_id"), F.col("id") == F.col("new_id"), "left_semi"
        )
        shc_src = corpus_df.join(
            cand.select("corpus_id"), F.col(id_col) == F.col("corpus_id"), "left_semi"
        )
    shn = shn_src.select(
        F.col("id").alias("new_id"), F.col("sh").alias("sh_n")
    )
    shc = _shingle_sets(shc_src, id_col, text_col, n).select(
        F.col("id").alias("corpus_id"), F.col("sh").alias("sh_c")
    )
    # merge-hinted shingle sides — see minhash_near_duplicates: the
    # document-side hash-array tables are size-underestimated and must
    # never be a broadcast build side at corpus scale
    return (
        cand.join(shn.hint("merge"), "new_id")
        .join(shc.hint("merge"), "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.size(F.array_intersect("sh_n", "sh_c")).alias("inter"),
            F.size("sh_n").alias("sz_n"),
            F.size("sh_c").alias("sz_c"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_n") + F.col("sz_c") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = 10_000,
    candidate_first: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    Verify-stage shape (``candidate_first``) — MEASURED r5, see
    BENCH.md's A/B section (``bench.py --lsh-ab``):

    - ``False`` (default, "always-shingle"): every doc's shingle array is
      computed in the same narrow pass that the self-join signature
      stage already scans, and joined against the candidate pairs; when
      candidates ≪ corpus Spark/AQE broadcasts the candidate side, so
      the verify never shuffles the corpus. Measured FASTER than
      candidate-first for this same-shard self-join in BOTH broadcast
      regimes at 1.28M docs / ~1% dups: 1.41× with broadcast joins on,
      1.16× with them disabled — shingling is cheap JVM map work, so
      skipping it for non-candidates never repays candidate-first's
      materialization barrier + two extra semi-join stages here.
    - ``True`` ("candidate-first"): semi-join the corpus down to
      candidate ids before shingling. The measured win for this shape is
      the INCREMENTAL job (:func:`incremental_near_duplicates`, where it
      is the default): there the corpus side does not otherwise need
      verify shingles at all, so the semi-join removes O(corpus) work
      (measured 1.10–1.17× at 1.28M docs, both broadcast regimes).
      Output identical either way
      (test_candidate_first_ab_equivalence).

    The verify stage computes Jaccard PER CANDIDATE PAIR (join the two
    distinct-shingle arrays, ``array_intersect`` JVM-side): cost is
    O(|candidates| · shingles/doc). Routing candidates through the
    inverted-index ``jaccard_similar_pairs`` instead would re-explode all
    pairs of candidate documents through shared shingles — on web text
    (boilerplate 8-grams shared by most documents) that join is quadratic
    in the candidate set even though the LSH filter was linear.

    Inherits the guard contract of :func:`minhash_lsh_candidates`: with
    the default ``max_bucket``, pairs inside a flooded bucket are the
    star subset (complete for dedup GROUPING, not for exhaustive pair
    listing — use ``max_bucket=None`` for that). Materialize the result
    inside a :func:`pair_cache_scope`.

    History of the default: r4 argued the candidate-first semi-join was
    the scale shape ("always-shingle shuffles the corpus to verify a
    near-empty pair set"). The fixed-harness r5 A/B at 1.28M docs / ~1%
    planted dups MEASURED the split to be by JOB SHAPE, not by
    broadcastability: in this same-shard self-join the corpus is fully
    scanned for signatures regardless, shingles ride that same narrow
    pass, and the tiny candidate side broadcasts (or, with broadcast
    disabled, shuffles 8-byte ids) — always-shingle wins 1.41×/1.16×
    in the two regimes. The r4 argument survives only where the corpus
    side has no other reason to be shingled — the incremental new×corpus
    job, where candidate-first wins 1.10–1.17× and is the default.
    Numbers: BENCH.md A/B section (``bench.py --lsh-ab``).
    """
    # r7: the same shingle-hash pass feeds the signature stage and both
    # verify sides (previously the verify re-built string shingle arrays
    # from text). The base is NOT persisted — measured at 1.28M docs,
    # the ~2 GB hash-array cache thrashed the shared local heap and the
    # merge-join verify ran 75.7 s unpersisted vs 103.6 s DISK_ONLY /
    # ~237 s MEMORY_AND_DISK; re-running the vectorized hash pass per
    # consumer is cheap narrow map work (and the r6 string form paid
    # the same recompute with a 3× costlier chain). The hash transport
    # still halves verify bytes and runs ``array_intersect`` on longs.
    base = _shingle_sets(df, id_col, text_col, n)
    sigs = _signatures_from_shingles(base, n_hashes, seed)
    cand = minhash_lsh_candidates(sigs, bands, n_hashes, max_bucket)
    # candidate_first=True: semi-join the (cached) shingle base on the
    # candidate id set before the verify join (the huge-candidate-set
    # escape hatch; see the docstring's measured decision rule). Only
    # that shape gives ``cand`` multiple consumers (the id-set union +
    # the verify join), so only it persists (released with the active
    # scope); the default path consumes ``cand`` once.
    # No .distinct() on the id set: left_semi deduplicates by construction,
    # and the extra shuffle measured ~+3s on the sf0.1 gate corpus.
    sh = base
    if candidate_first:
        cand = scoped_persist(cand)
        cand_ids = cand.select(F.col("id_a").alias("cid")).unionAll(
            cand.select(F.col("id_b").alias("cid"))
        )
        sh = base.join(cand_ids, F.col("id") == F.col("cid"), "left_semi")
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    # Explicit MERGE hints on the shingle sides of both verify joins
    # (r7): the hash-array base's pre-materialization size estimate is
    # badly wrong (array columns get default per-row widths under the
    # column-pruned Project above the Arrow UDF), and at 1.28M docs the
    # planner broadcast the ~2 GB array table — a driver OOM in the
    # bench's LSH A/B. Candidate sets are not reliably small either
    # (the A/B corpus produces millions), so neither side may ever be
    # a broadcast build: the verify is pinned as co-partitioned shuffle
    # joins on 8-byte ids — the shape that survives any scale; AQE still
    # coalesces/skew-splits the exchanges.
    out = (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("sz_a"),
            F.size("sh_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash_64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, simhash BIGINT) — 64-bit simhash over the char n-gram multiset.

    Fully vectorized pandas UDF (same pattern as hashed_ngram's featurizer):
    the text becomes a codepoint array (``codepoints.encode``); the FNV-1a
    fold runs as n whole-array xor-multiply rounds over shifted views (one
    uint64 op per round, wraparound multiply = mod 2^64); bit unpack /
    accumulate / sign are single numpy broadcasts. No per-gram Python.

    Hashing over CODEPOINTS (not utf-8 bytes) keeps the fold length fixed
    at n rounds and makes the function expressible in the DuckDB oracle
    (xor + HUGEINT multiply mod 2^64 over unicode() values — see
    __spark_entry__.oracle_sql()["simhash_sigs"]). len(text) < n → 0.
    """
    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        with np.errstate(over="ignore"):
            for r, t in enumerate(texts):
                t = t if isinstance(t, str) else ""
                if len(t) < n:
                    continue
                cp = encode(t)
                n_grams = len(cp) - n + 1
                h = np.full(n_grams, FNV_OFFSET, dtype=np.uint64)
                for k in range(n):
                    h = fnv1a_step(h, cp[k : k + n_grams])
                bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                acc = bits.sum(axis=0) * 2 - n_grams  # Σ(2b-1) = 2Σb - G
                sig = ((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                out[r] = sig.astype(np.int64)
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sh(F.col(text_col)).alias("simhash"))


def simhash_candidates(
    sim: DataFrame, bands: int = 4, max_bucket: int | None = 10_000
) -> DataFrame:
    """Hamming-≤(bands-1) candidates: equal 16-bit chunk in ≥1 band.
    Guard contract and cache release as in :func:`minhash_lsh_candidates`
    (flooded buckets emit the star subset, not all pairs)."""
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sim.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("e"),
    ).select("id", "e.band", "e.chunk")
    return _bucket_self_join(banded, ["band", "chunk"], max_bucket)


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 7,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(id_a, id_b, cosine) with cosine ≥ threshold, via hyperplane-LSH
    bucketing (integer-exact sign projections — see
    similarity.hyperplane_bucket_udf) + exact cosine re-check on candidate
    pairs only. Guard contract and cache release as in
    :func:`minhash_lsh_candidates`: a flooded bucket contributes only its
    star subset of pairs (grouping-complete, not enumeration-complete)."""
    from .similarity import cosine_expr, hyperplane_bucket_udf

    bucket = hyperplane_bucket_udf(n_planes=n_planes, seed=seed, dim=None)
    with_b = emb.select(
        F.col(id_col).alias("id"),
        bucket(F.col(vec_col)).alias("bucket"),
    )
    cand = _bucket_self_join(with_b, ["bucket"], max_bucket)
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
    )
    out = pairs.filter(F.col("cosine") >= threshold)
    return out


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, canonical_id) connected components over an undirected near-dup
    pair list — the grouping step that turns pairwise evidence into "keep
    one doc per duplicate cluster". canonical_id = the component's minimum
    id (deterministic: min wins), so filtering to ``id = canonical_id``
    yields exactly one survivor per cluster. Only ids that appear in a
    pair are returned (singletons are trivially their own canonical).

    Algorithm: iterative min-label propagation over keyed joins, plus a
    pointer-jumping step (label := label(label)) per round. Propagation
    alone converges in O(diameter) rounds; the jump compresses label
    chains so long path-shaped clusters converge in O(log n). No
    GraphFrames dependency — three joins/round over the (id, label) table,
    which is two BIGINTs per node regardless of document size, so at
    100 TB of documents the label table is a few GB and every round is a
    cheap co-partitioned shuffle. Each round ends in ``localCheckpoint``:
    iterative lineage otherwise grows the plan exponentially (a real
    cluster job would use a reliable checkpoint dir instead; the
    previous round's blocks are freed as soon as the new round is
    materialized).

    This operator is the consumer of the hot-bucket STAR-pair contract in
    :func:`_bucket_self_join`: star pairs are a spanning subset of each
    flooded bucket, so components computed from them equal components
    computed from exhaustive pairs (pinned by
    tests/test_operators.py::test_components_star_equals_all_pairs).

    Termination: a round with zero label changes is a certificate that
    labels are constant on every component; since the component min keeps
    its own label and labels never go below it, that constant is the min.
    """
    # Truncate the (usually LSH-derived, UDF-heavy) upstream lineage once;
    # every round re-reads edges. Symmetrize with ONE explode over the
    # pairs subtree, not a unionAll of two selects: union branches are
    # separate physical subtrees, so the (unpersisted) verify-join chain
    # upstream would execute twice before this first checkpoint —
    # measured 7.25 s vs 6.01 s warmed on the sf1.0 components corpus.
    # Same row multiset into the distinct, so the edge set is identical.
    edges, edge_blocks = local_checkpoint(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    labels, label_blocks = local_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nb_min"))
        )
        # Inner joins are total: edges are symmetric so every node is some
        # edge's dst (nb_min covers all ids), and every label value is
        # itself a node id (mins over node ids), so the jump join hits.
        prop = labels.join(nb_min, "id").select(
            "id", F.least("label", "nb_min").alias("label"), "label"
        ).toDF("id", "label", "old")
        # Pointer jump: label := label(label) — compresses label chains so
        # path-shaped clusters converge in O(log n), not O(diameter).
        parent = prop.select(
            F.col("id").alias("label"), F.col("label").alias("parent")
        )
        # The previous round's label rides along as `old`, so the
        # convergence probe below is a filter over the fresh checkpoint
        # blocks — no extra join against the previous label table.
        new_labels, new_blocks = local_checkpoint(
            prop.join(parent, "label").select(
                "id", F.col("parent").alias("label"), "old"
            )
        )
        converged = new_labels.filter(F.col("label") != F.col("old")).isEmpty()
        label_blocks.release()  # previous round, no longer referenced
        labels, label_blocks = new_labels.select("id", "label"), new_blocks
        if converged:
            break
    else:
        # Silently returning non-converged labels would make
        # canonical_documents under-delete duplicates with no signal.
        label_blocks.release()
        edge_blocks.release()
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (pointer jumping needs O(log n) rounds)"
        )
    # The final labels are materialized blocks — edges are no longer
    # needed; the final label blocks must outlive this call (the caller
    # has not consumed the result yet), so the active scope frees them.
    edge_blocks.release()
    return labels.select("id", F.col("label").alias("canonical_id"))


def canonical_documents(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every near-duplicate except its cluster's canonical (min-id)
    document: df minus {ids that belong to a component but are not its
    canonical}. Narrow on the corpus side — the drop list (non-canonical
    members) is a fraction of the pair ids, shuffled as bare BIGINTs."""
    comp = dedup_components(pairs)
    drop = comp.filter(F.col("id") != F.col("canonical_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")

"""Span-level exact-substring dedup — remove duplicated k-word SPANS
across documents while keeping the rest of each document (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better": much
of web duplication is long shared passages — licenses, quotes, templated
paragraphs — inside otherwise-unique pages; document-level dedup keeps
or drops whole pages and misses it entirely).

Net-new operator (task brief's training-data-pipeline family; no
reference counterpart). Complements the existing families: exact dedup
(whole doc), MinHash/SimHash (near-whole-doc), boilerplate removal
(single repeated lines) — this one removes repeated multi-word passages.

The suffix-array construction of the paper is a single-machine shape; the
distributed equivalent used here is k-gram window marking: every k-word
window that occurs in ≥2 distinct documents is a duplicated span, and
every word covered by such a window is removed from every NON-CANONICAL
document (canonical = min doc id per window — "keep the first
occurrence"). Contiguous duplicated passages longer than k are handled
for free: their overlapping k-windows tile the passage, so interval
merging is just the distinct union of covered positions.

Pinned semantics (each a choice; both engines and all shards apply the
same one):
- words = whitespace tokens (the ``words()`` discipline shared with
  decontamination/Gopher); rebuilt text joins surviving words with a
  single space, i.e. output whitespace is CANONICALIZED for all docs,
  changed or not — uniform output beats mixed raw/rebuilt text;
- duplication is CROSS-document (n_docs ≥ 2): a doc repeating its own
  phrase is repetition (Gopher dup-n-gram rules' job), not span dup;
- the canonical doc keeps ALL its occurrences of the window; every
  other doc drops every covered word;
- docs with < k words have no windows and pass through (canonicalized).

Scale shape: one explode of k-gram hashes (the shuffle carries 8-byte
``xxhash64`` keys + positions, never gram text — the boilerplate/
decontamination discipline), one hash-agg for (n_docs, canonical), one
join back pruned by ``n_docs >= 2`` (duplicated windows are a small
fraction of all windows in a real corpus, and AQE broadcasts the
survivor set when it measures small), a k-row-per-window position
explode on FLAGGED windows only, then one doc-keyed rebuild shuffle.

Exactness: pure string/hash/int SQL ⇒ FULL DuckDB gate (``span_dedup``
in ``__spark_entry__``; the oracle recomputes windows on gram STRINGS —
hashing is an engine-side transport choice, not part of the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from ..functions.wordhash import word_gram_hashes_udf


def duplicated_spans(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, s, gh, canonical_id): every k-word window (0-based start
    ``s``) whose gram occurs in ≥2 distinct docs, with the min-doc-id
    canonical owner. The building block; :func:`remove_duplicate_spans`
    consumes it.

    r7 shape changes (output-identical; the gram hash is transport, not
    contract — the oracle recomputes windows on gram strings):

    - window hashes come from ONE vectorized Arrow pass per doc
      (``functions.wordhash``) instead of the interpreted
      ``zip_with``-chain + ``xxhash64`` (measured 6.7 s → 2.7 s per
      corpus pass at sf1.0);
    - the per-gh distinct-doc count aggregates a DOC-LOCAL
      ``array_distinct`` of each doc's hash array — one row per
      (doc, gh), so plain ``count(*)`` equals the old
      ``count_distinct(id)`` without its two-Exchange distinct-aggregate
      rewrite."""
    from .cache import scoped_persist

    # one UDF pass: the (id, hash-array) base feeds both the freq
    # aggregation and the position join; it is hashes-only (~8 bytes per
    # window), so the persist is small — registered with the active
    # pair_cache_scope like the LSH caches
    base = scoped_persist(
        docs.select(
            F.col(id_col).alias("id"),
            word_gram_hashes_udf(k)(F.col(text_col)).alias("_gh"),
        )
    )
    grams = base.select("id", F.posexplode("_gh").alias("s", "gh"))
    per_doc = base.select(
        "id", F.explode(F.array_distinct("_gh")).alias("gh")
    )
    freq = per_doc.groupBy("gh").agg(
        F.count("*").alias("n_docs"),
        F.min("id").alias("canonical_id"),
    )
    return grams.join(
        freq.filter(F.col("n_docs") >= 2).select("gh", "canonical_id"), "gh"
    ).select("id", "s", "gh", "canonical_id")


def remove_duplicate_spans(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, text_col rebuilt, n_words, n_words_dropped): drop every
    word covered by a cross-doc duplicated k-window from every
    non-canonical doc; rebuild from surviving words in order."""
    # r7 rebuild shape: the old path exploded EVERY word of EVERY doc
    # (one shuffled row per word), anti-joined the covered positions and
    # re-assembled docs with a sort_array/collect_list ObjectHashAggregate
    # — three wide ops proportional to corpus words. Flagged windows are
    # a small fraction of the corpus, so instead aggregate only the
    # flagged START positions per doc (one small shuffle), join that
    # |flagged-docs|-row table back (AQE broadcasts it), and rebuild each
    # doc LOCALLY: keep-positions via hash-based ``array_except`` over its
    # word array (see the ``kept`` expression below).
    # Output is pinned identical: same words survive, same single-space
    # join canonicalization, same n_words/n_words_dropped types.
    flagged = duplicated_spans(docs, k, id_col, text_col).filter(
        F.col("id") != F.col("canonical_id")
    )
    starts = flagged.groupBy("id").agg(F.collect_list("s").alias("_starts"))
    base = docs.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("_ws")
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform(F.col("_starts"), lambda s: F.sequence(s, s + (k - 1)))
        )
    )
    # keep-list = positions minus covered via hash-based array_except
    # (O(n_words + |cov|)), NOT a per-word array_contains scan
    # (O(n_words · |cov|) — organic cross-doc k-grams make cov ~100
    # positions on most docs of a real corpus). CaseWhen only evaluates
    # the taken branch, so unflagged docs skip the set machinery.
    kept = F.when(F.col("_starts").isNull(), F.col("_ws")).otherwise(
        F.transform(
            F.array_except(
                F.sequence(F.lit(0), F.size("_ws") - 1), F.col("_cov")
            ),
            lambda i: F.element_at(F.col("_ws"), i + 1),
        )
    )
    return (
        base.join(starts, "id", "left")
        .withColumn("_cov", cov)
        .withColumn("_kept", kept)
        .select(
            F.col("id").alias(id_col),
            F.array_join(F.col("_kept"), " ").alias(text_col),
            F.size("_ws").alias("n_words"),
            (F.size("_ws") - F.size("_kept")).cast("long").alias("n_words_dropped"),
        )
    )

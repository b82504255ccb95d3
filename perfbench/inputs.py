"""Seeded benchmark inputs, written as multi-file parquet before any timer
starts. The program only ever sees the parquet paths.

Every generator takes the run's ``--seed``; the same seed gives the same
frames, files and descriptor.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from language_identification_spark.fixtures.pages import gen_pages

# Files per input; more files than cores so the scan splits into several
# tasks per core.
N_FILES = 16
PAGE_COLS = ["url", "warc_ts", "text", "lang", "split"]


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int = N_FILES) -> int:
    """Write ``pdf`` as ``n_files`` parquet files; returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // n_files)
    for k in range(n_files):
        part = pdf.iloc[k * step : (k + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{k:03d}.parquet"),
        )
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def fixture_pages(n: int, seed: int) -> pd.DataFrame:
    """Short web pages: the fixture mix (8 languages, all 20 anomaly
    modes), without the ``html`` column the pipeline drops anyway."""
    return gen_pages(n_rows=n, seed=seed)[PAGE_COLS]


# Docs joined per page: mostly short pages, a tail long enough to pass
# MAX_CHARS (20k chars at ~450 chars per fixture doc).
_JOIN_COUNTS = [1, 1, 1, 2, 2, 3, 4, 6, 8, 12, 16, 24, 48, 64]


def joined_pages(n_pages: int, seed: int) -> pd.DataFrame:
    """Pages built by joining consecutive same-language fixture docs, so
    page lengths span from under MIN_CHARS to past MAX_CHARS. The seed
    shuffles a fixed multiset of join counts, so every seed has the same
    number of fixture docs."""
    rng = random.Random(f"joined::{seed}")
    counts = (_JOIN_COUNTS * -(-n_pages // len(_JOIN_COUNTS)))[:n_pages]
    rng.shuffle(counts)
    docs = fixture_pages(sum(counts), seed)
    by_lang: dict[str, list[str]] = {}
    for text, lang in zip(docs["text"], docs["lang"]):
        by_lang.setdefault(lang, []).append(text)
    langs = sorted(by_lang)
    cursor = {lg: 0 for lg in langs}
    rows = []
    for i, k in enumerate(counts):
        lang = langs[i % len(langs)]
        pool = by_lang[lang]
        start = cursor[lang] % len(pool)
        cursor[lang] += k
        texts = (pool[start:] + pool[:start])[:k]
        rows.append(
            {
                "url": f"https://job{seed}.example/p{i}",
                "warc_ts": docs["warc_ts"].iloc[i % len(docs)],
                "text": "\n".join(texts),
                "lang": lang,
                "split": "test" if i % 5 == 4 else "train",
            }
        )
    pdf = pd.DataFrame(rows)
    # Spark's parquet reader rejects TIMESTAMP(NANOS).
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us, UTC]")
    return pdf


def langid_corpus(n: int, seed: int) -> pd.DataFrame:
    """The paper's corpus shape: stripped, non-empty texts with a pinned
    train/test split and a dataset-order index (Cavnar–Trenkle's order)."""
    pdf = fixture_pages(n, seed)[["text", "lang", "split"]]
    pdf = pdf.assign(text=pdf["text"].str.strip())
    pdf = pdf[pdf["text"].str.len() > 0].reset_index(drop=True)
    pdf["doc_idx"] = range(len(pdf))
    return pdf


def plant_near_dups(
    kept: pd.DataFrame, n_clusters: int, seed: int
) -> tuple[pd.DataFrame, list[list[int]]]:
    """Kept pages (``doc_id``, ``text``) plus ``n_clusters`` planted
    near-duplicate clusters: each is one kept page and 1–3 copies with a
    short random token appended. Copies get ids past every kept id, so a
    cluster's min id is its original page."""
    rng = random.Random(f"dedup::{seed}")
    originals = rng.sample(range(len(kept)), min(n_clusters, len(kept)))
    next_id = int(kept["doc_id"].max()) + 1
    extra, clusters = [], []
    for pos in originals:
        src_id = int(kept["doc_id"].iloc[pos])
        text = kept["text"].iloc[pos]
        members = [src_id]
        for _ in range(rng.randint(1, 3)):
            tok = "".join(rng.choice("qxzjkv") for _ in range(6))
            extra.append({"doc_id": next_id, "text": f"{text} {tok}"})
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    docs = pd.concat([kept[["doc_id", "text"]], pd.DataFrame(extra)], ignore_index=True)
    return docs, clusters


def descriptor(pdf: pd.DataFrame) -> dict:
    """What the input is: docs, text bytes and language mix. Exact for a
    seed; the workloads add the keep fraction and per-rule drop counts."""
    langs = pdf["lang"].value_counts() if "lang" in pdf else pd.Series(dtype=int)
    return {
        "docs": len(pdf),
        "text_bytes": int(pdf["text"].str.encode("utf-8").str.len().sum()),
        "lang_mix": {k: int(v) for k, v in sorted(langs.items())},
    }


def rule_counts(reasons) -> dict:
    """Keep fraction and per-rule drop counts from first-failing-rule
    names (None = kept), as ``pipeline.rules.drop_reason_expr`` and its
    oracle twin ``py_drop_reason`` give them."""
    reasons = list(reasons)
    drops: dict[str, int] = {}
    for r in reasons:
        if r is not None:
            drops[r] = drops.get(r, 0) + 1
    return {
        "rule_docs": len(reasons),
        "keep_frac": (len(reasons) - sum(drops.values())) / max(len(reasons), 1),
        "drop_counts": dict(sorted(drops.items())),
    }

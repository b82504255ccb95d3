"""PII / toxicity scrubber — compiled-regex, byte-identical by construction.

The SAME module (same compiled patterns, same application order) runs in:
- the pure-Python oracle (``oracle/pipeline.py``) via :func:`scrub_text`,
- the serving pandas UDF (``pipeline/quality.py``) via :func:`scrub_series`,
- the registry gates ``pii_scrub`` / ``refresh_pipeline`` via
  :data:`scrub_pii`, an Arrow UDF over :func:`scrub_series`.

so ``scrubbed_text`` is byte-identical per url between the oracle and the
serving path, and the gates check the kernel that serves pages. Patterns
are compiled once at module import — executors pay compilation once per
Python worker process, never per batch or per row.

Every pattern is compiled with ``re.ASCII``: ``\\d`` is ``[0-9]``, ``\\b``
is an ASCII word boundary and IGNORECASE folds ASCII letters only —
what RE2 means by them. Without it Python's Unicode ``\\d``/``\\b`` scrub
Arabic-Indic or full-width digits as phones/IPs, and stop a slur match
before a non-ASCII letter that RE2 treats as a boundary. The DuckDB twin
(:func:`oracle_sql_exprs`) is generated from the same pattern strings,
so the two engines agree byte for byte.

No reference counterpart (net-new per BASELINE.json north_star: "compiled
regex PII/toxicity scrubber (emails, phones, IPs, slur lexicon)").
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fake slur lexicon: synthetic placeholder tokens (see fixtures/pages.py).
# A real deployment swaps this tuple for a curated lexicon; the machinery
# (word-boundary alternation, pinned order) is identical.
SLUR_LEXICON = ("grobnak", "zilftwerp", "quvvorn")

# Application order is part of the contract: email → phone → ip → slur.
SCRUB_RULES: list[tuple[re.Pattern, str]] = [
    (
        re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", re.ASCII),
        "<EMAIL>",
    ),
    (
        re.compile(r"\+?\d{1,3}[-.]\d{3}[-.]\d{3,4}(?:[-.]\d{4})?", re.ASCII),
        "<PHONE>",
    ),
    (
        re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b", re.ASCII),
        "<IP>",
    ),
    (
        re.compile(
            r"\b(?:" + "|".join(map(re.escape, SLUR_LEXICON)) + r")\b",
            re.ASCII | re.IGNORECASE,
        ),
        "<TOX>",
    ),
]


def scrub_text(s: str) -> str:
    """Scrub one string (oracle path)."""
    for pat, repl in SCRUB_RULES:
        s = pat.sub(repl, s)
    return s


def scrub_series(s: pd.Series) -> pd.Series:
    """Vectorized scrub over an Arrow batch (Spark pandas-UDF path).

    pandas ``str.replace`` dispatches to the same ``re`` engine as
    :func:`scrub_text`, so outputs are byte-identical.
    """
    for pat, repl in SCRUB_RULES:
        s = s.str.replace(pat, repl, regex=True)
    return s


def pii_hit_count(s: str) -> int:
    """Number of PII/toxicity matches in a string (metrics column)."""
    return sum(len(pat.findall(s)) for pat, _ in SCRUB_RULES)


SCRUB_STRUCT = T.StructType(
    [
        T.StructField("scrubbed", T.StringType()),
        T.StructField("n_pii", T.LongType()),
    ]
)


@F.pandas_udf(SCRUB_STRUCT)
def _scrub_pii(texts: pd.Series) -> pd.DataFrame:
    """Per doc: ``scrubbed`` (:func:`scrub_series`) and ``n_pii``
    (:func:`pii_hit_count` over the ORIGINAL text). NULL text gives NULL
    in both fields."""
    present = texts.notna().to_numpy()
    scrubbed = scrub_series(texts.fillna("")).astype(object)
    scrubbed[~present] = None
    n_pii = pd.array(
        [pii_hit_count(t) if p else None for t, p in zip(texts, present)],
        dtype="Int64",
    )
    return pd.DataFrame({"scrubbed": scrubbed, "n_pii": n_pii})


# Pure, but marked non-deterministic so the optimizer runs it once above
# a Union instead of copying it into every branch (one Arrow pass).
scrub_pii = _scrub_pii.asNondeterministic()


def _rule_patterns() -> list[tuple[str, str]]:
    """(pattern, replacement) pairs as plain strings, in contract order —
    the source the DuckDB oracle builds from. The slur rule carries its
    IGNORECASE as an inline (?i) flag; ``re.ASCII`` needs no flag, RE2
    classes are ASCII already."""
    out = []
    for pat, repl in SCRUB_RULES:
        p = pat.pattern
        if pat.flags & re.IGNORECASE:
            p = "(?i)" + p
        out.append((p, repl))
    return out


def oracle_sql_exprs(text_expr: str) -> tuple[str, str]:
    """DuckDB twins of :func:`scrub_text` / :func:`pii_hit_count` over
    ``text_expr``, generated from the same pattern constants."""
    s = text_expr
    hits = []
    for p, repl in _rule_patterns():
        pq = p.replace("'", "''")
        rq = repl.replace("'", "''")
        hits.append(
            f"length(regexp_split_to_array({text_expr}, '{pq}')) - 1"
        )
        s = f"regexp_replace({s}, '{pq}', '{rq}', 'g')"
    return s, " + ".join(hits)

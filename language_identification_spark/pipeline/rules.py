"""Keep/drop decision — ONE set of constants shared by the Spark pipeline
and the pure-Python oracle, so both sides evaluate the identical predicate
over identical inputs (features are integer-ratio floats; lang_conf and
perplexity come from shared scoring code ⇒ bit-identical).

Gopher/C4-style bounds (net-new per north_star; no reference counterpart):
length/word bounds, symbol ratio, repetition, stop-word fraction,
bullet/ellipsis line ratios, duplicate-line fraction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_CHARS = 50
MAX_CHARS = 20000
MIN_WORDS = 5
MIN_MEAN_WORD_LEN = 1.0
MAX_MEAN_WORD_LEN = 15.0
MAX_SYMBOL_RATIO = 0.3
MIN_DISTINCT_WORD_RATIO = 0.2
MIN_LANG_CONF = 0.5
MAX_PERPLEXITY = 60.0
# Gopher-style additions (r4): a real web doc in a covered language should
# contain SOME function words (Gopher requires ≥2 stop words; expressed
# here as a ratio so doc length doesn't change the rule's meaning), should
# not be mostly bullet lines (Gopher: ≤90%), mostly "..."-truncated lines
# (Gopher: ≤30%), or mostly repeated lines (Gopher dedups by line fraction).
MIN_STOPWORD_RATIO = 0.01
MAX_BULLET_LINE_RATIO = 0.9
MAX_ELLIPSIS_LINE_RATIO = 0.3
MAX_DUP_LINE_RATIO = 0.3
# Per-script routing (r6, VERDICT r5 ask #4): every rule above is
# word-based on ASCII-whitespace tokens, but genuine CJK prose has no
# spaces — n_words ≈ n_lines, so MIN_WORDS / stopword-ratio /
# mean-word-len systematically misjudge it (CCNet/Gopher are explicit
# that their word rules assume space-delimited scripts). Docs whose
# letters are CJK-majority (``is_cjk``) skip the four word-shape rules
# and get char-based substitutes instead: a CJK-letter length floor and
# a char-4-gram diversity floor (the char-level repetition signal —
# spam pages repeat the same char windows; genuine prose does not).
MIN_CJK_CHARS = 25
MIN_CJK_DISTINCT_CHAR_4GRAM_RATIO = 0.3
# Gopher §A1.1 repetition bounds (r5): chars covered by the most frequent
# word n-gram (n=2,3,4; counted only when it occurs ≥2 times — see
# text.py_repetition_features) and chars inside duplicated word n-grams
# (n=5..10), as fractions of the doc's chars. Thresholds are the Gopher
# paper's published values.
MAX_TOP_NGRAM_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


_DEFAULT_STOPWORDS_CACHE: tuple[str, ...] | None = None


def default_stopwords() -> tuple[str, ...]:
    """The default stop-word lexicon, resolved LAZILY from the fixture
    module (fixtures own the generation; this production module must not
    run fixture RNG loops at import time on every executor). A production
    deployment injects real per-language function-word lists via
    ``QualityModels.stopwords`` / the ``stopwords`` parameters instead —
    everything downstream (broadcast, ratio, rule) is shape-identical."""
    global _DEFAULT_STOPWORDS_CACHE
    if _DEFAULT_STOPWORDS_CACHE is None:
        from ..fixtures.pages import fixture_stopwords

        _DEFAULT_STOPWORDS_CACHE = fixture_stopwords()
    return _DEFAULT_STOPWORDS_CACHE


# Per-rule reason codes: the one compile of the keep decision.
# RefinedWeb/Dolma-style pipelines report PER-RULE removal rates and store
# the first failing rule with each dropped doc. The table below lists
# every keep rule in contract order with its failing comparison;
# :func:`drop_reason_expr` compiles it to ONE native CASE chain (first
# failing rule wins, NULL = kept), the served ``keep`` is
# ``drop_reason IS NULL``, and :func:`drop_reason_sql` and
# :func:`py_drop_reason` are the DuckDB and Python twins generated from
# the SAME rows, so the engines cannot drift.
RULE_SPECS: list[tuple[str, str, str, float]] = (
    [
        ("too_few_chars", "n_chars", "<", MIN_CHARS),
        ("too_many_chars", "n_chars", ">", MAX_CHARS),
        ("too_few_words", "n_words", "<", MIN_WORDS),
        ("mean_word_len_low", "mean_word_len", "<", MIN_MEAN_WORD_LEN),
        ("mean_word_len_high", "mean_word_len", ">", MAX_MEAN_WORD_LEN),
        ("symbol_ratio_high", "symbol_ratio", ">", MAX_SYMBOL_RATIO),
        ("distinct_word_ratio_low", "distinct_word_ratio", "<", MIN_DISTINCT_WORD_RATIO),
        ("stopword_ratio_low", "stopword_ratio", "<", MIN_STOPWORD_RATIO),
        ("cjk_too_few_cjk_chars", "n_cjk", "<", MIN_CJK_CHARS),
        (
            "cjk_char_repetition_high",
            "distinct_char_4gram_ratio",
            "<",
            MIN_CJK_DISTINCT_CHAR_4GRAM_RATIO,
        ),
        ("bullet_line_ratio_high", "bullet_line_ratio", ">", MAX_BULLET_LINE_RATIO),
        ("ellipsis_line_ratio_high", "ellipsis_line_ratio", ">", MAX_ELLIPSIS_LINE_RATIO),
        ("dup_line_ratio_high", "dup_line_ratio", ">", MAX_DUP_LINE_RATIO),
    ]
    + [
        (f"top_{n}gram_char_frac_high", f"top_{n}gram_char_frac", ">", t)
        for n, t in MAX_TOP_NGRAM_CHAR_FRAC.items()
    ]
    + [
        (f"dup_{n}gram_char_frac_high", f"dup_{n}gram_char_frac", ">", t)
        for n, t in MAX_DUP_NGRAM_CHAR_FRAC.items()
    ]
    + [
        ("lang_conf_low", "lang_conf", "<", MIN_LANG_CONF),
        ("perplexity_high", "perplexity", ">", MAX_PERPLEXITY),
    ]
)


# Per-script applicability of each rule (reason → guard). "word": the
# rule assumes space-delimited tokens — skipped for CJK-majority docs.
# "cjk": the char-based substitute — applies ONLY to CJK-majority docs.
# Absent: applies to every doc. ``is_cjk`` itself is a feature column
# (letters are CJK-majority; see functions/text.py_quality_features_batch).
RULE_GUARDS: dict[str, str] = {
    "too_few_words": "word",
    "mean_word_len_low": "word",
    "mean_word_len_high": "word",
    "stopword_ratio_low": "word",
    "cjk_too_few_cjk_chars": "cjk",
    "cjk_char_repetition_high": "cjk",
}


def _guard_expr(reason: str) -> Column:
    g = RULE_GUARDS.get(reason)
    if g == "word":
        return ~F.col("is_cjk")
    if g == "cjk":
        return F.col("is_cjk")
    return F.lit(True)


def _guard_sql(reason: str) -> str:
    g = RULE_GUARDS.get(reason)
    if g == "word":
        return "NOT is_cjk AND "
    if g == "cjk":
        return "is_cjk AND "
    return ""


def _py_guard(reason: str, is_cjk: bool) -> bool:
    g = RULE_GUARDS.get(reason)
    if g == "word":
        return not is_cjk
    if g == "cjk":
        return is_cjk
    return True


def drop_reason_expr() -> Column:
    """First failing rule's name (contract order), NULL when kept."""
    expr = None
    for reason, col, op, t in RULE_SPECS:
        fail = (F.col(col) < F.lit(t)) if op == "<" else (F.col(col) > F.lit(t))
        cond = _guard_expr(reason) & fail
        expr = F.when(cond, F.lit(reason)) if expr is None else expr.when(cond, F.lit(reason))
    return expr.otherwise(F.lit(None).cast("string"))


def drop_reason_sql() -> str:
    """DuckDB twin of :func:`drop_reason_expr`, generated from RULE_SPECS."""
    whens = "\n".join(
        f"WHEN {_guard_sql(reason)}{col} {op} {t} THEN '{reason}'"
        for reason, col, op, t in RULE_SPECS
    )
    return f"CASE {whens} ELSE NULL END"


def py_drop_reason(
    feats: dict, lang_conf: float | None = None, perplexity: float | None = None
) -> str | None:
    """Oracle-side twin of :func:`drop_reason_expr`: first failing rule in
    contract order, None when kept. A model rule is evaluated only when
    its value (lang_conf / perplexity) is supplied, so the features alone
    give the pre-model heuristic reason."""
    model = {"lang_conf": lang_conf, "perplexity": perplexity}
    vals = {**feats, **model}
    is_cjk = bool(feats["is_cjk"])
    for reason, col, op, t in RULE_SPECS:
        if (col in model and model[col] is None) or not _py_guard(reason, is_cjk):
            continue
        v = vals[col]
        if (v < t) if op == "<" else (v > t):
            return reason
    return None

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from language_identification_spark.models import score as sc
from language_identification_spark.oracle import reference as ref
from language_identification_spark.sources.catalog import (
    iceberg_available,
    write_bucketed,
)
from language_identification_spark.streaming.quality_stream import (
    windowed_quality_metrics,
)


def test_cavnar_dunning_udf_parity(spark, pages_pdf):
    """Predict parity for the two literature models (SURVEY §5.2.1 — the
    other three families are covered in test_models_parity)."""
    pdf = pages_pdf[["text", "lang", "split"]].copy()
    pdf["text"] = pdf["text"].str.strip()
    pdf = pdf[pdf["text"].str.len() > 0].reset_index(drop=True)
    pdf["doc_idx"] = range(len(pdf))
    train = pdf[pdf["split"] == "train"]
    test = pdf[pdf["split"] == "test"].head(60)  # CT scoring is O(profile²)
    df = spark.createDataFrame(test[["doc_idx", "text"]])

    ct = ref.CavnarTrenkle()
    ct.train(train["text"].tolist(), train["lang"].tolist())
    udf = sc.make_cavnar_trenkle_predict_udf(spark, ct.language_profiles)
    got = {r["doc_idx"]: r["p"] for r in df.select("doc_idx", udf("text").alias("p")).collect()}
    want = dict(zip(test["doc_idx"], ct.predict(test["text"].tolist())))
    assert got == want

    dn = ref.Dunning()
    dn.train(train["text"].tolist(), train["lang"].tolist())
    udf = sc.make_dunning_predict_udf(spark, dn.language_models)
    got = {r["doc_idx"]: r["p"] for r in df.select("doc_idx", udf("text").alias("p")).collect()}
    want = dict(zip(test["doc_idx"], dn.predict(test["text"].tolist())))
    assert got == want


def test_write_bucketed_partition_pruning(spark, pages_df, tmp_path):
    loc = str(tmp_path)
    write_bucketed(pages_df.select("url", "text", "lang"), loc, "pages_b", n_buckets=8)
    back = spark.read.parquet(f"{loc}/pages_b")
    assert back.count() == pages_df.count()
    assert "bucket" in back.columns
    one = back.filter(F.col("bucket") == 3)
    # partition pruning: the bucket predicate must land in PartitionFilters
    from language_identification_spark.plans.asserts import explain_str

    plan = explain_str(one)
    assert "PartitionFilters" in plan and "(bucket" in plan.split("PartitionFilters", 1)[1][:120], plan
    assert one.count() > 0


def test_iceberg_probe_is_false_here(spark):
    # sandbox has no Iceberg jars; the catalog must fall back, not throw
    assert iceberg_available(spark) is False


def test_streaming_windowed_metrics(spark, pages_df, tmp_path):
    from language_identification_spark.pipeline.quality import train_quality_models
    from language_identification_spark.streaming.quality_stream import (
        quality_stream,
        read_pages_stream,
    )

    src = str(tmp_path / "src")
    pages_df.repartition(4).write.parquet(src)
    models = train_quality_models(pages_df.filter("split = 'train'"))
    metrics = windowed_quality_metrics(
        quality_stream(spark, read_pages_stream(spark, src), models)
    )
    q = (
        metrics.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_metrics")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_metrics").collect()
    assert rows, "watermark-closed windows should have emitted"
    total = sum(r["n_docs"] for r in rows)
    assert total > 0
    assert all(0.0 <= r["keep_rate"] <= 1.0 for r in rows)


def test_events_quantiles_approx_bound(spark, sf_dir):
    """r5 (judge ask): the sketch quantile (approx_percentile, the
    bounded-memory 100 TB path) obeys the published Greenwald-Khanna
    guarantee vs the exact twin: the approx value's RANK is within
    n/accuracy of the target rank q*n. Checked per event_type group by
    materializing each group's sorted values (fine at test scale)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    approx = {
        r["event_type"]: r
        for r in qs["events_quantiles_approx"](spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    vals = {
        r["event_type"]: sorted(r["vs"])
        for r in ev.groupBy("event_type").agg(F.collect_list("value").alias("vs")).collect()
    }
    assert set(approx) == set(vals)
    accuracy = 10000
    for etype, row in approx.items():
        v = vals[etype]
        n = len(v)
        assert row["n"] == n
        eps = n / accuracy
        for q, col in ((0.5, "p50_approx"), (0.95, "p95_approx")):
            got = row[col]
            # rank window of the returned value among the exact sorted list
            import bisect

            lo = bisect.bisect_left(v, got)
            hi = bisect.bisect_right(v, got)
            target = q * n
            assert lo - 1 - eps <= target <= hi + eps, (
                etype, col, got, lo, hi, target, eps
            )


def test_repetition_columns_native_matches_python(spark):
    """r5: the repetition columns of the gates' feature UDF
    (with_quality_features) must be bit-identical to the per-doc Python
    oracle on adversarial shapes — overlapping repeats, cap saturation,
    ties between gram lengths, short docs."""
    from language_identification_spark.functions.text import (
        REPETITION_KEYS,
        py_quality_features,
        with_quality_features,
    )

    texts = [
        "a a a a a a a a",                      # overlap: cap must engage
        "x y x y x y x y tail words here",      # hammered 2-gram
        "one two three four five one two three four five end",
        "alpha beta gamma delta epsilon zeta",  # no repetition at all
        "w",                                    # 1 token
        "",                                     # empty
        "aa bb aa bb cc aa bb",                 # tie shapes
        "p q r s t u p q r s t u p q r s t u",  # long phrase ×3
        "你好世界你好世界你好世界",              # cjk: diversity computed
        "你好 世界 mixed latin words here 你好",  # mixed, latin-majority: 1.0
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    keys = [*REPETITION_KEYS, "distinct_char_4gram_ratio"]
    out = {r["i"]: r for r in with_quality_features(df, "t").collect()}
    for i, t in enumerate(texts):
        exp = py_quality_features(t)
        for k in keys:
            assert out[i][k] == exp[k], (i, k, out[i][k], exp[k])


def test_fixture_repetition_anomalies_trip_one_rule_each(pages_pdf):
    """r5: mode-10 docs trip ONLY the top-2-gram rule; mode-11 docs trip
    ONLY the dup-5-gram rule — every other feature stays inside bounds,
    for every fixture language (incl. short-word zh)."""
    from language_identification_spark.functions.text import py_quality_features
    from language_identification_spark.pipeline import rules

    pdf = pages_pdf.reset_index(drop=True)
    m10 = pdf[pdf.index % 20 == 10]
    m11 = pdf[pdf.index % 20 == 11]
    assert len(m10) and len(m11)
    for _, row in m10.iterrows():
        f = py_quality_features(row["text"].strip())
        assert f["top_2gram_char_frac"] > rules.MAX_TOP_NGRAM_CHAR_FRAC[2], row["url"]
        for n in (5, 6, 7, 8, 9, 10):
            assert f[f"dup_{n}gram_char_frac"] <= rules.MAX_DUP_NGRAM_CHAR_FRAC[n]
        assert f["distinct_word_ratio"] >= rules.MIN_DISTINCT_WORD_RATIO
    for _, row in m11.iterrows():
        f = py_quality_features(row["text"].strip())
        assert f["dup_5gram_char_frac"] > rules.MAX_DUP_NGRAM_CHAR_FRAC[5], row["url"]
        for n in (2, 3, 4):
            assert f[f"top_{n}gram_char_frac"] <= rules.MAX_TOP_NGRAM_CHAR_FRAC[n]
        assert f["distinct_word_ratio"] >= rules.MIN_DISTINCT_WORD_RATIO


def test_url_normalize_cases(spark):
    """r5 URL canonicalization: each pinned rule on a hand-built case
    set (scheme/host case, www., default vs explicit port, trailing
    slash, utm + param sort, fragment, schemeless passthrough)."""
    from language_identification_spark.functions.urls import normalize_url

    cases = [
        ("HTTP://WWW.Site.COM:80/A/b/?utm_source=x&b=2&a=1#frag",
         "http://site.com/A/b?a=1&b=2"),
        ("https://Example.org:443/", "https://example.org"),
        ("https://example.org:8443/x/", "https://example.org:8443/x"),
        ("http://example.com", "http://example.com"),
        ("http://example.com/?utm_a=1&utm_b=2", "http://example.com"),
        ("ftp://Host.com/File", "ftp://host.com/File"),
        ("not a url#frag", "not a url"),
        ("http://example.com/p?z=1&y=2&utm_x=0", "http://example.com/p?y=2&z=1"),
        ("https://a.com///", "https://a.com"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    got = df.select("url", "expected", normalize_url(F.col("url")).alias("norm")).collect()
    for r in got:
        assert r["norm"] == r["expected"], r["url"]


def test_approx_distinct_error_bound(spark, sf_dir):
    """r5 HLL sketch: approx_count_distinct lands within 5x the
    configured rsd of the exact distinct count (rsd=0.05; HLL++ is well
    inside that in practice — the margin keeps the assertion stable)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    approx = {
        r["event_type"]: r for r in qs["events_distinct_approx"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r for r in qs["events_distinct_exact"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for k in exact:
        assert approx[k]["n_rows"] == exact[k]["n_rows"]
        rel = abs(approx[k]["n_approx"] - exact[k]["n_exact"]) / max(
            exact[k]["n_exact"], 1
        )
        assert rel <= 5 * 0.05, (k, approx[k]["n_approx"], exact[k]["n_exact"])


def test_normalize_text_cases(spark):
    """r5 unicode canonicalization: NFC composition, angstrom-sign
    rewrite, control-char strip (keeping tab/newline/CR), null/empty
    passthrough, and the pinned strip-then-NFC order."""
    from language_identification_spark.functions.normalize import (
        normalize_text,
        strip_control_chars,
    )

    cases = [
        ("café", "café"),           # NFD -> NFC
        ("café", "café"),            # already NFC: unchanged
        ("10Å", "10Å"),              # ANGSTROM SIGN -> A-ring
        ("a\x00b\x07c", "abc"),                # C0 controls stripped
        ("l1\nl2\tl3\rl4", "l1\nl2\tl3\rl4"),  # \t \n \r survive
        ("\x7f", ""),                          # DEL stripped
        ("", ""),
        ("한가", "한가"),  # Hangul jamo compose
    ]
    df = spark.createDataFrame(cases, "raw string, expected string")
    for r in df.select("raw", "expected", normalize_text(F.col("raw")).alias("n")).collect():
        assert r["n"] == r["expected"], repr(r["raw"])
    # null passthrough (pandas UDF must not crash on None)
    nul = spark.createDataFrame([(None,)], "raw string")
    assert nul.select(normalize_text(F.col("raw")).alias("n")).first()["n"] is None
    assert nul.select(strip_control_chars(F.col("raw")).alias("n")).first()["n"] is None


def test_compression_ratio_values(spark):
    """r5 zlib compressibility signal: values pinned against the same
    zlib from driver python (no SQL twin exists), plus the two regime
    sanity checks the quality rules rely on (repetitive ≪ prose-like)."""
    import zlib

    from language_identification_spark.functions.normalize import compression_ratio

    texts = [
        "ab" * 500,                                    # repetitive: tiny ratio
        "the quick brown fox jumps over the lazy dog " * 4,
        "x",                                           # shorter than the zlib header
        "",                                            # empty -> 0.0
        "".join(  # high entropy: sha256 keystream mapped to printable
            chr(33 + b % 90)
            for i in range(13)
            for b in __import__("hashlib").sha256(bytes([i])).digest()
        ),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r["i"]: r["r"]
        for r in df.select("i", compression_ratio(F.col("t")).alias("r")).collect()
    }
    for i, t in enumerate(texts):
        if t:
            b = t.encode("utf-8")
            exp = round(len(zlib.compress(b, 6)) / len(b), 6)
        else:
            exp = 0.0
        assert got[i] == exp, (i, got[i], exp)
    assert got[0] < 0.1              # repetition compresses away
    assert got[4] > got[1] > got[0]  # entropy ordering


def test_url_normalize_idempotent(spark):
    """Canonicalization must be a projection: normalize(normalize(x)) ==
    normalize(x) over a deterministic URL-ish fuzz set (mixed case,
    ports, utm params, fragments, trailing slashes, garbage)."""
    import random

    from language_identification_spark.functions.urls import normalize_url

    rng = random.Random(20260817)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", ""]
    hosts = ["WWW.Example.COM", "site.org", "A.B.c", "www.x.io"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/A/b", "/A/b/", "///", "/p%20q"]
    queries = ["", "?a=1", "?utm_s=1", "?b=2&a=1&utm_x=0", "?&&a=1"]
    frags = ["", "#f", "#A/B?c=1"]
    urls = []
    for _ in range(300):
        s = rng.choice(schemes)
        u = (s + "://" if s else "") + rng.choice(hosts) + rng.choice(ports) \
            + rng.choice(paths) + rng.choice(queries) + rng.choice(frags)
        urls.append((u,))
    urls += [("",), ("   ",), ("no scheme at all",), ("a#b#c",)]
    df = spark.createDataFrame(urls, "url string")
    once = normalize_url(F.col("url"))
    bad = (
        df.select("url", once.alias("n1"), normalize_url(once).alias("n2"))
        .filter("n1 <> n2")
        .collect()
    )
    assert not bad, bad[:5]


def test_html_extract_cases(spark):
    """r5 html family (functions/html.py): pinned extraction spec —
    head/script/style subtrees drop, structural closes become newlines,
    the five named entities + &amp;-last decode, explicit-class edge
    strip; title reads the raw bytes. Null/empty/tagless inputs covered."""
    from language_identification_spark.functions.html import (
        html_title,
        html_to_text,
    )

    rows = [
        (
            '<html><head><title> T &amp; t </title>'
            '<script>var a="<b>";</script></head>'
            "<BODY><p>one</p><div>two</div>tail<BR/>after"
            "<style>p { x }</style>&lt;lit&gt;&nbsp;&#39;q&#39;</BODY></html>",
        ),
        ("<html><body>plain</body></html>",),
        ("no tags",),
        ("  \n padded \t ",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "s string").select(
        F.encode("s", "UTF-8").alias("h")
    )
    got = [
        (r["t"], r["ti"])
        for r in df.select(
            html_to_text(F.col("h")).alias("t"), html_title(F.col("h")).alias("ti")
        ).collect()
    ]
    assert got == [
        ("one\ntwo\ntail\nafter<lit> 'q'", "T & t"),
        ("plain", ""),
        ("no tags", ""),
        ("padded", ""),
        ("", ""),
        (None, None),
    ]


def test_html_roundtrip_fixture(spark, pages_df):
    """The north rule's per-row invariant — byte-identical extracted text
    per url: html_to_text over the fixture's html BINARY column must
    reproduce the text column exactly (modulo the spec's edge-whitespace
    strip) for every page."""
    import re

    from language_identification_spark.functions.html import html_to_text

    got = pages_df.select(
        "text", html_to_text(F.col("html")).alias("x")
    ).collect()
    assert len(got) > 0
    edge = re.compile(r"^[ \t\r\n]+|[ \t\r\n]+$")
    for r in got:
        assert r["x"] == edge.sub("", r["text"])


def test_certified_top_terms_truncation_and_certificate(spark):
    """r5 heavy hitters: with a capacity small enough to force partial
    truncation, the certificate still proves exactness and the output
    equals the true top-k (20 heavy terms ~500 each vs a 500-term
    singleton tail; per-partition thresholds are all 1, so E = #partitions
    << the k-th count)."""
    from language_identification_spark.operators.sketches import (
        certified_top_terms,
    )

    rows = []
    for i in range(20):
        rows.extend([(f"h{i:02d}",)] * (500 - i))
    rows.extend([(f"tail{j:03d}",) for j in range(500)])
    df = spark.createDataFrame(rows, "w string").repartition(8)
    got = certified_top_terms(df, F.array("w"), k=10, capacity=20).collect()
    assert [(r["t"], r["cnt"]) for r in got] == [
        (f"h{i:02d}", 500 - i) for i in range(10)
    ]


def test_certified_top_terms_raises_when_uncertifiable(spark):
    """A flat corpus (every term count 1) with a tiny capacity cannot
    certify a top-k: silently returning a maybe-wrong ranking is the one
    forbidden outcome, so the operator must raise."""
    from language_identification_spark.operators.sketches import (
        certified_top_terms,
    )

    df = spark.createDataFrame(
        [(f"u{j:03d}",) for j in range(200)], "w string"
    ).repartition(4)
    with pytest.raises(RuntimeError, match="raise capacity"):
        certified_top_terms(df, F.array("w"), k=5, capacity=2)


def test_certified_top_terms_matches_exact_on_fixture(spark, sf_dir):
    """The sketch path's output equals the plain exact top-k on real
    fixture words (the same equality the FULL heavy_hitters_topk gate
    checks through DuckDB)."""
    from language_identification_spark.functions.text import words
    from language_identification_spark.operators.sketches import (
        certified_top_terms,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(F.explode(words(F.col("text"))).alias("t"))
    exact = (
        terms.groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("t"))
        .limit(15)
        .collect()
    )
    got = certified_top_terms(docs, words(F.col("text")), k=15, capacity=64)
    assert [(r["t"], r["cnt"]) for r in got.collect()] == [
        (r["t"], r["cnt"]) for r in exact
    ]


# (input, scrubbed) pairs on which the engines disagreed while Python's
# \d and \b were Unicode: non-ASCII digits are no phone or IP, a
# non-ASCII letter is a word boundary, and IGNORECASE does not fold the
# Kelvin sign (U+212A) to 'k'
_ARABIC_PHONE = "call \u0660\u0661\u0662-\u0663\u0664\u0665-\u0666\u0667\u0668\u0669 now"
SCRUB_DIALECT_CASES = [
    (_ARABIC_PHONE, _ARABIC_PHONE),
    ("ip \uff11.\uff12.\uff13.\uff14", "ip \uff11.\uff12.\uff13.\uff14"),
    ("x grobnak\u00fc y", "x <TOX>\u00fc y"),
    ("\u00e9GROBNAK", "\u00e9<TOX>"),
    ("a 10.0.0.1\u00e9", "a <IP>\u00e9"),
    ("x grobna\u212a y", "x grobna\u212a y"),
]


def test_scrub_pii_matches_duckdb_oracle(spark, pages_df):
    """The registry scrub UDF (the serving kernel) equals its DuckDB twin
    (``oracle_sql_exprs``, built from the same SCRUB_RULES) on scrubbed
    text and hit count: the dialect probes, NULL, empty and the fixture
    corpus, which plants emails/phones/IPs/slurs. Every rule is
    ASCII-pinned, which is why the engines agree."""
    import re

    import duckdb

    from language_identification_spark.functions.scrub import (
        SCRUB_RULES,
        oracle_sql_exprs,
        scrub_pii,
    )

    assert all(pat.flags & re.ASCII for pat, _ in SCRUB_RULES)
    texts = [t for t, _ in SCRUB_DIALECT_CASES] + [None, ""]
    texts += [r["text"] for r in pages_df.select("text").collect()]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    got = {
        r["i"]: (r["scrubbed"], r["n_pii"])
        for r in df.select("i", scrub_pii(F.col("t")).alias("r"))
        .select("i", "r.scrubbed", "r.n_pii")
        .collect()
    }
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    scrubbed, n_pii = oracle_sql_exprs("t")
    want = {
        i: (s, n)
        for i, s, n in con.sql(
            f"SELECT i, {scrubbed}, ({n_pii})::BIGINT FROM docs"
        ).fetchall()
    }
    assert got == want
    for i, (t, scrubbed_want) in enumerate(SCRUB_DIALECT_CASES):
        assert got[i][0] == scrubbed_want, t
    n = len(SCRUB_DIALECT_CASES)
    assert got[n] == (None, None) and got[n + 1] == ("", 0)
    assert sum(got[i][1] for i in range(n + 2, len(texts))) > 0, (
        "fixture plants PII; zero hits means a dead test"
    )


def test_scrub_pii_cases(spark):
    """Edge pins for the registry scrub UDF: null passthrough, empty
    string, case-insensitive slur, adjacent rules, count on the ORIGINAL
    text (an email's digits must not double-count as a phone)."""
    from language_identification_spark.functions.scrub import scrub_pii

    rows = [
        ("mail a.b+c@ex-1.org or GROBNAK!",),
        ("ip 10.0.0.1, phone +44-555-123-4567",),
        ("ZilftWerp quvvorn grobnak",),
        ("clean text, no hits",),
        ("",),
        (None,),
    ]
    got = (
        spark.createDataFrame(rows, "t string")
        .select(scrub_pii(F.col("t")).alias("r"))
        .select("r.scrubbed", "r.n_pii")
        .collect()
    )
    assert [(r["scrubbed"], r["n_pii"]) for r in got] == [
        ("mail <EMAIL> or <TOX>!", 2),
        ("ip <IP>, phone <PHONE>", 2),
        ("<TOX> <TOX> <TOX>", 3),
        ("clean text, no hits", 0),
        ("", 0),
        (None, None),
    ]


def test_percentile_filter_known_values(spark):
    """r5 percentile filter: exact per-group thresholds on hand-built
    values — group a = 1..8 (q25 = 2.75, keep 3..8), group b = constant
    (everything survives any frac), frac=0 keeps all, frac=1 keeps only
    the max."""
    from language_identification_spark.operators.filtering import (
        percentile_filter,
    )

    rows = [("a", float(v)) for v in range(1, 9)] + [("b", 5.0)] * 4
    df = spark.createDataFrame(rows, "g string, s double")
    got = percentile_filter(df, "s", frac=0.25, group_col="g", exact=True)
    kept = sorted((r["g"], r["s"]) for r in got.collect())
    assert kept == sorted(
        [("a", float(v)) for v in range(3, 9)] + [("b", 5.0)] * 4
    )
    assert percentile_filter(df, "s", frac=0.0, group_col="g", exact=True).count() == 12
    top = percentile_filter(df, "s", frac=1.0, group_col="g", exact=True)
    assert sorted((r["g"], r["s"]) for r in top.collect()) == [
        ("a", 8.0), ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 5.0)
    ]


def test_percentile_filter_approx_matches_exact_small(spark):
    """The serving default (approx_percentile) equals the exact path when
    the interpolated quantile lands on a data point (101 values 0..100 at
    frac=0.1 -> threshold exactly 10.0 in both; approx_percentile is
    rank-based and never interpolates, so off-grid quantiles legitimately
    differ by one boundary element). Also covers the ungrouped path."""
    from language_identification_spark.operators.filtering import (
        percentile_filter,
    )

    rows = [(float(v),) for v in range(101)]
    df = spark.createDataFrame(rows, "s double")
    exact = {
        r["s"] for r in percentile_filter(df, "s", frac=0.1, exact=True).collect()
    }
    approx = {
        r["s"] for r in percentile_filter(df, "s", frac=0.1).collect()
    }
    assert exact == approx
    assert min(exact) == 10.0 and len(exact) == 91


def test_drop_reason_matches_keep(spark):
    """The one rule compile, cross-engine: Spark's ``drop_reason_expr``
    (whose NULL is the served ``keep``) equals the Python twin
    ``py_drop_reason`` on EVERY row of 600 seeded-random rows sweeping
    each rule's threshold neighborhood, plus 5 all-passing rows, over
    both ``is_cjk`` branches."""
    import numpy as np
    import pandas as pd

    from language_identification_spark.pipeline import rules

    rng = np.random.default_rng(11)
    n = 600
    cols = {}
    int_cols = {"n_chars", "n_words"}
    for _, col, op, t in rules.RULE_SPECS:
        if col in cols:
            continue
        if col in int_cols:
            cols[col] = rng.integers(max(0, int(t) - 10), int(t) * 3, n)
        else:
            cols[col] = np.round(rng.uniform(0, float(t) * 2.5, n), 4)
    pdf = pd.DataFrame(cols)
    # A uniform random sweep virtually never satisfies all ~20 rules at
    # once, so append rows built to sit mid-interval on every rule --
    # guaranteeing the kept branch is exercised too.
    lo = {c: 0.0 for c in cols}
    hi = {c: None for c in cols}
    for _, col, op, t in rules.RULE_SPECS:
        if op == "<":
            lo[col] = max(lo[col], float(t))
        else:
            hi[col] = float(t) if hi[col] is None else min(hi[col], float(t))
    passing = {
        c: (lo[c] + hi[c]) / 2 if hi[c] is not None else lo[c] * 2 + 1
        for c in cols
    }
    pdf = pd.concat(
        [pdf, pd.DataFrame([passing] * 5)], ignore_index=True
    )
    for c in int_cols:
        pdf[c] = pdf[c].astype("int64")
    # r6 per-script routing: random is_cjk exercises both guard branches
    pdf["is_cjk"] = rng.integers(0, 2, len(pdf)).astype(bool)
    pdf["row"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = df.select("row", rules.drop_reason_expr().alias("reason")).collect()
    assert len(got) == len(pdf)
    n_kept = 0
    for r in got:
        row = pdf.iloc[r["row"]].to_dict()
        want = rules.py_drop_reason(row, row["lang_conf"], row["perplexity"])
        assert r["reason"] == want, row
        n_kept += int(r["reason"] is None)
    assert 0 < n_kept < len(got)


def test_drop_reason_first_fail_order(spark):
    """When several rules fail at once the FIRST in contract order wins
    (too_few_chars outranks lang_conf_low etc.)."""
    import pandas as pd

    from language_identification_spark.pipeline import rules

    plan_cols = {c for _, c, _, _ in rules.RULE_SPECS}
    row = {}
    for _, col, op, t in rules.RULE_SPECS:
        if col in ("n_chars", "n_words"):
            row[col] = 0  # fails the < rules
        elif op == "<":
            row.setdefault(col, 0.0)
        else:
            row.setdefault(col, float(t) * 10)
    assert set(row) == plan_cols
    row["is_cjk"] = False
    df = spark.createDataFrame(pd.DataFrame([row]))
    got = df.select(rules.drop_reason_expr().alias("r")).first()
    assert got["r"] == rules.RULE_SPECS[0][0]


def test_pack_sequences_known_values(spark):
    """r5 packing: hand-computed window assignment — per-shard token
    stream [100, 100, 100] at seq_len=128 gives cum starts 0/100/200 ->
    packs 0/0/1, offsets 0/100/72; docs 2 and 3 straddle a boundary.
    A second shard restarts the stream; a zero-token doc never spans."""
    from language_identification_spark.operators.packing import (
        pack_sequences,
    )

    rows = (
        [(i, "a", 100) for i in range(3)]
        + [(10, "b", 100), (11, "b", 0), (12, "b", 50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_tokens long")
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"], r["spans_packs"])
        for r in pack_sequences(df, 128, shard_col="shard").collect()
    }
    assert got[0] == (0, 0, False)
    assert got[1] == (0, 100, True)   # tokens 100..199 cross 128
    assert got[2] == (1, 72, True)    # tokens 200..299 cross 256
    assert got[10] == (0, 0, False)   # shard stream restarts
    assert got[11] == (0, 100, False)  # zero-token doc never spans
    assert got[12] == (0, 100, True)  # tokens 100..149 cross 128

    try:
        pack_sequences(df, 0)
        assert False, "seq_len=0 must raise"
    except ValueError:
        pass


def test_chunk_documents_cases(spark):
    """r5 chunking: 10-token doc at chunk=4/stride=3 -> starts 0,3,6,9
    with sizes 4,4,4,1 and exact text slices; short doc -> one chunk;
    empty and whitespace-only docs -> zero rows; disjoint default
    stride=chunk tiles without overlap."""
    from language_identification_spark.operators.packing import (
        chunk_documents,
    )

    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [
            (1, " ".join(toks)),
            (2, "only three words"),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = chunk_documents(df, chunk=4, stride=3).collect()
    one = sorted(
        (r["chunk_idx"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
        for r in got
        if r["doc_id"] == 1
    )
    assert one == [
        (0, 0, 4, "w0 w1 w2 w3"),
        (1, 3, 4, "w3 w4 w5 w6"),
        (2, 6, 4, "w6 w7 w8 w9"),
        (3, 9, 1, "w9"),
    ]
    assert [
        (r["n_chunk_tokens"], r["chunk_text"]) for r in got if r["doc_id"] == 2
    ] == [(3, "only three words")]
    assert not [r for r in got if r["doc_id"] in (3, 4)]

    disjoint = chunk_documents(df.filter("doc_id = 1"), chunk=4).collect()
    assert sorted(r["start_token"] for r in disjoint) == [0, 4, 8]


def test_snapshot_diff_statuses(spark):
    """r5 snapshot diff: each status from a hand-built pair of
    snapshots, plus dup-key determinism (two fetches of one url in a
    snapshot collapse to one row via min-digest)."""
    from language_identification_spark.operators.snapshots import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone"),
         ("u4", "aaa"), ("u4", "bbb")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u5", "fresh"), ("u4", "aaa")],
        "url string, text string",
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        "u1": "unchanged", "u2": "changed", "u3": "removed",
        "u5": "added", "u4": "changed",
    }
    # u4 collapses to ONE row (no fan-out) with a deterministic digest:
    # min(sha256) over {aaa,bbb} is sha256(bbb) ("3e74..." < "9834..."),
    # which differs from new's sha256(aaa) -> changed.
    import hashlib

    assert min(
        hashlib.sha256(b"aaa").hexdigest(), hashlib.sha256(b"bbb").hexdigest()
    ) == hashlib.sha256(b"bbb").hexdigest()
    assert snapshot_diff(old, new).count() == 5


def test_quantile_buckets_known_values(spark):
    """r5 CCNet buckets: exact terciles on 1..9 (q33=3.667, q66=6.333)
    split head={1,2,3}, middle={4,5,6}, tail={7,8,9}; a constant group
    lands entirely in head (score <= q33); bad labels/qs raise."""
    from language_identification_spark.operators.selection import (
        quantile_buckets,
    )

    rows = [("a", float(v)) for v in range(1, 10)] + [("b", 4.0)] * 3
    df = spark.createDataFrame(rows, "g string, s double")
    got = quantile_buckets(df, "s", "g", exact=True).collect()
    by = {}
    for r in got:
        by.setdefault((r["g"], r["bucket"]), set()).add(r["s"])
    assert by[("a", "head")] == {1.0, 2.0, 3.0}
    assert by[("a", "middle")] == {4.0, 5.0, 6.0}
    assert by[("a", "tail")] == {7.0, 8.0, 9.0}
    assert by[("b", "head")] == {4.0} and ("b", "middle") not in by

    for bad in (
        dict(labels=("x", "y")),                      # len mismatch
        dict(qs=(0.9, 0.1), labels=("x", "y", "z")),  # unsorted
        dict(qs=(0.0, 0.5), labels=("x", "y", "z")),  # out of (0,1)
    ):
        try:
            quantile_buckets(df, "s", "g", **bad)
            assert False, f"{bad} must raise"
        except ValueError:
            pass


def test_dsir_weights_semantics(spark):
    """r5 DSIR: (1) zero-token docs weigh exactly 0; (2) a doc of
    target-corpus tokens outweighs a doc of raw-only tokens; (3) weight
    is additive in tokens (doubling a doc's tokens doubles its weight,
    micro-nat exact) — the bag-of-buckets unigram contract."""
    from language_identification_spark.operators.selection import (
        dsir_weights,
    )

    target = spark.createDataFrame(
        [(100 + i, "science physics theorem proof") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "science physics"),
            (1, "gossip celebrity"),
            (2, ""),
            (3, "science physics science physics"),
        ]
        + [(10 + i, "gossip celebrity scandal rumor") for i in range(4)],
        "doc_id long, text string",
    )
    w = {
        r["doc_id"]: r["dsir_weight_micro"]
        for r in dsir_weights(raw, target, n_buckets=256).collect()
    }
    assert set(w) == {0, 1, 2, 3, 10, 11, 12, 13}
    assert w[2] == 0
    assert w[0] > w[1], (w[0], w[1])
    assert w[3] == 2 * w[0]


def _duck_token_buckets(texts, n_buckets):
    """DuckDB per-text bucket lists: the tokenization of
    ``dsir_weights_sql`` folded by ``_fold_sql`` — the twin the DSIR gate
    runs."""
    import duckdb

    from language_identification_spark.operators.selection import _fold_sql

    con = duckdb.connect()
    sql = f"""
      SELECT list_transform(
               CASE WHEN trim(t) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(t), '[ \\t\\n]+') END,
               tok -> ({_fold_sql('tok')} % {n_buckets})::INT)
      FROM (SELECT ?::VARCHAR AS t)
    """
    return [con.sql(sql, params=[t]).fetchone()[0] for t in texts]


def test_token_buckets_cross_engine_fold(spark):
    """The per-token fold the DSIR UDF computes equals the DuckDB twin
    (_fold_sql) token by token — the primitive both gate engines build
    their DSIR buckets from."""
    from language_identification_spark.operators.selection import (
        token_buckets_udf,
    )

    toks = ["hello", "wörld", "汉字", "x", ""]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    spark_got = {
        r["t"]: r["b"]
        for r in df.select(
            "t", F.try_element_at(token_buckets_udf(4096)(F.col("t")), F.lit(1)).alias("b")
        ).collect()
    }
    for t, duck in zip(toks, _duck_token_buckets(toks, 4096)):
        if t == "":
            assert spark_got[t] is None and duck == []  # empty text -> empty array
            continue
        assert [spark_got[t]] == duck, (t, spark_got[t], duck)


def test_extract_links_cases(spark):
    """r5 link extraction: multi-anchor pages keep document order,
    anchor-free pages yield zero rows, attributes before href are
    tolerated, single-quoted hrefs are (by pinned contract) NOT matched."""
    from language_identification_spark.operators.linkgraph import (
        extract_links,
    )

    df = spark.createDataFrame(
        [
            (1, '<a href="x">1</a> mid <a class="c" href="/y">2</a>'),
            (2, "<p>no links at all</p>"),
            (3, "<a href='single-quoted'>skip</a>"),
        ],
        "doc_id long, html string",
    )
    got = [(r["doc_id"], r["href"]) for r in extract_links(df).collect()]
    assert sorted(got) == [(1, "/y"), (1, "x")]


def test_pagerank_matches_pure_python_recurrence(spark):
    """r5 PageRank: the Spark keyed-join loop equals an independent
    pure-Python implementation of the same integer-micro recurrence on
    a seeded random graph (long chain + hub + dangling node), iteration
    by iteration."""
    import math
    import random

    from language_identification_spark.operators.cache import pair_cache_scope
    from language_identification_spark.operators.linkgraph import (
        MICRO,
        pagerank,
    )

    rng = random.Random(23)
    nodes = [f"n{i}" for i in range(30)]
    edges = set()
    for i in range(29):
        edges.add((f"n{i}", f"n{i+1}"))       # chain
    for i in range(0, 30, 3):
        edges.add((f"n{i}", "n7"))            # hub
    for _ in range(40):
        edges.add((rng.choice(nodes), rng.choice(nodes)))
    # make n29 dangling (no out-edges): drop anything it points at
    edges = {(s, d) for s, d in edges if s != "n29"}

    d = 0.85
    present = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(present)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    teleport = math.floor((1 - d) * MICRO / n + 0.5)
    rank = {v: math.floor(MICRO / n + 0.5) for v in present}
    for _ in range(4):
        inflow = {}
        for s, t in edges:
            c = math.floor(d * rank[s] / deg[s] + 0.5)
            inflow[t] = inflow.get(t, 0) + c
        rank = {v: teleport + inflow.get(v, 0) for v in present}

    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    with pair_cache_scope():
        got = {
            r["node"]: r["rank_micro"]
            for r in pagerank(df, n_iter=4).collect()
        }
    assert got == rank

    try:
        pagerank(df, n_iter=0)
        assert False, "n_iter=0 must raise"
    except ValueError:
        pass


def test_remove_duplicate_lines_cases(spark):
    """r5 within-doc line dedup: first occurrence survives in place,
    later copies vanish; interleaved repeats, all-same docs, single-line
    and empty docs pinned."""
    from language_identification_spark.operators.boilerplate import (
        remove_duplicate_lines,
    )

    df = spark.createDataFrame(
        [
            (1, "a\nb\na\nc\nb"),
            (2, "x\nx\nx"),
            (3, "only"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_lines(df).collect()}
    assert (got[1]["text"], got[1]["n_lines"], got[1]["n_dup_lines_removed"]) == (
        "a\nb\nc", 5, 2
    )
    assert (got[2]["text"], got[2]["n_dup_lines_removed"]) == ("x", 2)
    assert (got[3]["text"], got[3]["n_dup_lines_removed"]) == ("only", 0)
    assert (got[4]["text"], got[4]["n_lines"], got[4]["n_dup_lines_removed"]) == (
        "", 1, 0
    )


def test_bloom_parameters():
    """Optimal-sizing formula pins: textbook n=1000 @ 1% fpp, word
    alignment, k≥1 clamp, and input validation."""
    from language_identification_spark.operators.bloom import bloom_parameters

    m, k = bloom_parameters(1000, 0.01)
    assert m == 9600 and k == 7  # ceil(9585.06) -> 64-aligned
    assert m % 64 == 0
    # absurdly loose fpp: the 64-bit alignment floor dominates the raw
    # m (<1 bit), and k follows the ALIGNED m — never below 1
    m2, k2 = bloom_parameters(10, 0.99)
    assert m2 == 64 and k2 == round(64 / 10 * math.log(2))
    m3, k3 = bloom_parameters(10_000, 0.99)
    assert k3 == 1  # here raw m/n is tiny, so the k>=1 clamp engages
    for bad in ((0, 0.01), (100, 0.0), (100, 1.0)):
        with pytest.raises(ValueError):
            bloom_parameters(*bad)


def test_bloom_no_false_negatives(spark):
    """Every inserted value must probe maybe=True (the guarantee the
    FULL dedup gate rests on), even in a saturated 64-bit filter; a
    disjoint probe set against a generous filter is mostly False."""
    from language_identification_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )

    vals = spark.range(200).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("v")
    )
    for m_bits, k in [(64, 1), (8192, 5)]:
        bloom = build_bloom(vals, "v", m_bits, k)
        flags = bloom_maybe_contains(vals, bloom, "v", "id")
        assert flags.filter(~F.col("maybe_in_bloom")).count() == 0
    other = spark.range(200, 400).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("v")
    )
    bloom = build_bloom(vals, "v", 8192, 5)
    hits = (
        bloom_maybe_contains(other, bloom, "v", "id")
        .filter(F.col("maybe_in_bloom"))
        .count()
    )
    assert hits < 20  # fpp ~ (1 - e^-0.122)^5 << 10%


def test_bloom_incremental_dedup_equals_exact(spark):
    """The Bloom path's output is EXACTLY the plain anti-join's output
    for any (m_bits, k) — undersized filters only grow the verify set,
    never change the answer."""
    from language_identification_spark.fixtures.pages import gen_pages
    from language_identification_spark.operators.bloom import (
        bloom_incremental_dedup,
    )
    from language_identification_spark.operators.dedup import (
        exact_incremental_dedup,
    )

    pdf = gen_pages(n_rows=300, seed=11)
    pdf["doc_id"] = range(len(pdf))
    df = spark.createDataFrame(pdf[["doc_id", "text"]])
    corpus = df.filter(F.col("doc_id") % 3 != 0)
    # every 9th doc borrows a corpus text => true duplicate
    donor = corpus.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("dt")
    )
    new = (
        df.filter(F.col("doc_id") % 3 == 0)
        .join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 9 == 0) & F.col("dt").isNotNull(), F.col("dt")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    want = sorted(
        (r["doc_id"], r["text"])
        for r in exact_incremental_dedup(new, corpus).collect()
    )
    assert 0 < len(want) < new.count()  # planting actually removed rows
    for m_bits, k in [(64, 1), (1024, 2), (1 << 16, 7)]:
        got = sorted(
            (r["doc_id"], r["text"])
            for r in bloom_incremental_dedup(
                new, corpus, m_bits=m_bits, k=k
            ).collect()
        )
        assert got == want, (m_bits, k)


def test_mojibake_detect_and_fix(spark):
    """Detector: fires once per mis-decoded char, silent on clean text
    and on genuine accents. Fixer: inverts single AND double
    mis-decoding, never touches clean/undecodable text."""
    from language_identification_spark.functions.normalize import (
        fix_mojibake,
        mojibake_count,
    )

    orig = "café résumé 你好"
    moji1 = orig.encode("utf-8").decode("latin-1")
    moji2 = moji1.encode("utf-8").decode("latin-1")
    trap = "é¡"  # lead-range + continuation-range, NOT valid UTF-8
    rows = [
        (1, orig),
        (2, moji1),
        (3, moji2),
        (4, "plain ascii"),
        (5, trap),
        (6, None),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (r["n"], r["f"])
        for r in df.select(
            "i",
            mojibake_count(F.col("t")).alias("n"),
            fix_mojibake(F.col("t")).alias("f"),
        ).collect()
    }
    assert got[1] == (0, orig)  # genuine accents: no detection, no change
    # one pair per mis-decoded char: 3 two-byte (é) + 2 three-byte (你好)
    assert got[2] == (5, orig)
    assert got[3][1] == orig  # double-encoded needs two rounds
    assert got[4] == (0, "plain ascii")
    assert got[5] == (1, trap)  # detector fires but bytes aren't UTF-8: untouched
    assert got[6] == (None, None)
    assert got[7] == (0, "")


def test_script_mixing_cases(spark):
    """Hand-pinned profiles: mixed latin+cyrillic, pure-script,
    scriptless, CJK-dominant, and the fixed-order argmax tie."""
    from language_identification_spark.functions.analysis import script_mixing

    rows = [
        (1, "hello мир"),   # latin 5, cyr 3 -> mixed
        (2, "hello"),       # pure latin
        (3, "123 !!!"),     # scriptless
        (4, "你好 ok"),      # cjk 2 vs latin 2 -> tie: latin wins (order)
        (5, "你好你好 ok"),  # cjk 4 dominant over latin 2
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    cols = script_mixing(F.col("t"))
    got = {
        r["i"]: r
        for r in df.select(
            "i", *[c.alias(k) for k, c in cols.items()]
        ).collect()
    }
    assert (got[1]["dominant_script"], got[1]["dominant_frac"], got[1]["is_mixed"]) == ("latin", 0.625, True)
    assert (got[2]["dominant_script"], got[2]["dominant_frac"], got[2]["is_mixed"]) == ("latin", 1.0, False)
    assert (got[3]["dominant_script"], got[3]["dominant_frac"], got[3]["is_mixed"]) == ("none", 0.0, False)
    assert got[4]["dominant_script"] == "latin"  # tie-break order pin
    assert (got[5]["dominant_script"], got[5]["is_mixed"]) == ("cjk", True)
    assert got[1]["n_latin"] == 5 and got[1]["n_cyrillic"] == 3


def test_vocab_coverage_known_values(spark):
    """Tiny corpus with a hand-computed curve, incl. k beyond the true
    vocabulary (coverage saturates at 1.0) and the lexicographic
    tie-break between equal-count words."""
    from language_identification_spark.operators.vocab import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "i long, text string"
    )
    got = {
        r["k"]: r
        for r in vocab_coverage(df, text_col="text", ks=[1, 2, 10]).collect()
    }
    assert (got[1]["covered_tokens"], got[1]["total_tokens"], got[1]["coverage"]) == (2, 5, 0.4)
    assert (got[2]["covered_tokens"], got[2]["coverage"]) == (4, 0.8)
    assert (got[10]["covered_tokens"], got[10]["coverage"]) == (5, 1.0)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        vocab_coverage(df, ks=[0, 5])


def test_pr_threshold_sweep_known_values(spark):
    """Hand-computed 5-doc curve at 10 buckets: thresholds on bucket
    boundaries, cumulative-from-the-top tp/pred counts, P/R/F1."""
    from language_identification_spark.operators.eval import pr_threshold_sweep

    rows = [
        (True, 0.95),
        (True, 0.85),
        (False, 0.80),
        (True, 0.30),
        (False, 0.10),
    ]
    df = spark.createDataFrame(rows, "is_pos boolean, score double")
    got = {
        r["threshold"]: r
        for r in pr_threshold_sweep(df, "is_pos", "score", n_buckets=10).collect()
    }
    # 0.3*10 is exactly 3.0 in IEEE doubles -> threshold 0.3 (pinned)
    assert set(got) == {0.9, 0.8, 0.3, 0.1}
    assert (got[0.9]["n_pred_pos"], got[0.9]["tp"], got[0.9]["precision"], got[0.9]["recall"]) == (1, 1, 1.0, 0.333333)
    assert (got[0.8]["n_pred_pos"], got[0.8]["tp"], got[0.8]["precision"], got[0.8]["recall"]) == (3, 2, 0.666667, 0.666667)
    assert got[0.8]["f1"] == 0.666667
    assert (got[0.3]["n_pred_pos"], got[0.3]["tp"], got[0.3]["precision"], got[0.3]["recall"]) == (4, 3, 0.75, 1.0)
    assert (got[0.1]["n_pred_pos"], got[0.1]["tp"], got[0.1]["precision"]) == (5, 3, 0.6)


def test_bpe_pair_stats_known_values(spark):
    """Hand-computed Sennrich step-1 counts: word types weighted by
    frequency, end-of-word marker distinct from mid-word pairs."""
    from language_identification_spark.operators.vocab import bpe_pair_stats

    # corpus tokens: "low" x2, "lower" x1  ->  types low:2, lower:1
    df = spark.createDataFrame(
        [(1, "low low"), (2, "lower")], "i long, text string"
    )
    got = {
        (r["s1"], r["s2"]): r["pair_count"]
        for r in bpe_pair_stats(df, top_k=100).collect()
    }
    assert got[("l", "o")] == 3
    assert got[("o", "w")] == 3
    assert got[("w", "</w>")] == 2      # 'low' ends the word
    assert got[("w", "e")] == 1          # 'lower' continues
    assert got[("e", "r")] == 1
    assert got[("r", "</w>")] == 1
    # single-char word: exactly one pair with the marker
    one = bpe_pair_stats(
        spark.createDataFrame([(1, "a")], "i long, text string")
    ).collect()
    assert [(r["s1"], r["s2"], r["pair_count"]) for r in one] == [("a", "</w>", 1)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_pair_stats(df, top_k=0)


def test_sentences_cases(spark):
    """Pinned splitter semantics: terminator runs stay attached, no
    terminator -> one sentence, leading space trimmed, empty/None safe."""
    from language_identification_spark.functions.text import sentences

    rows = [
        (1, "Hi!! Ok. Done"),
        (2, "no terminator"),
        (3, ""),
        (4, "a. b? c!"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r["i"]: r["s"] for r in df.select("i", sentences(F.col("t")).alias("s")).collect()}
    assert got[1] == ["Hi!!", "Ok.", "Done"]
    assert got[2] == ["no terminator"]
    assert got[3] == []
    assert got[4] == ["a.", "b?", "c!"]


def test_winnow_fingerprints_matches_pure_python(spark):
    """Winnowing vs an independent pure-Python implementation of the
    paper's rule (min hash per window, rightmost on ties), plus the
    guarantee pins: short docs -> [], sub-window docs -> global min,
    and a shared >= w+k-1 substring yields a shared fingerprint."""
    from language_identification_spark.functions.analysis import (
        FINGERPRINT_MOD,
        winnow_fingerprints,
    )

    def py_winnow(t, k, w):
        if len(t) < k:
            return []
        hs = []
        for i in range(len(t) - k + 1):
            acc = 0
            for ch in t[i : i + k]:
                acc = (acc * 31 + ord(ch)) % FINGERPRINT_MOD
            hs.append(acc)
        sel = set()
        n_win = max(len(hs) - w, 0) + 1
        for s in range(n_win):
            win = hs[s : s + w]
            best, bpos = None, None
            for j, h in enumerate(win):
                if best is None or h <= best:  # <= => rightmost min
                    best, bpos = h, s + j
            sel.add((bpos, best))
        return sorted(sel)

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aaaaaaaaaaaa"),          # constant hashes: tie-break matters
        (3, "short"),                 # < k -> []
        (4, "abcdefgh"),              # exactly one k-gram
        (5, "abcdefghij"),            # fewer k-grams than w
        (6, ""),
    ]
    k, w = 8, 4
    df = spark.createDataFrame(texts, "i long, t string")
    got = {
        r["i"]: sorted((e["pos"], e["fp"]) for e in r["fps"])
        for r in df.select(
            "i", winnow_fingerprints(F.col("t"), k=k, w=w).alias("fps")
        ).collect()
    }
    for i, t in texts:
        assert got[i] == py_winnow(t, k, w), (i, t)
    # local-fingerprint guarantee: shared 16-char substring (>= w+k-1=11)
    shared = "zqxwvutsrqponmlk"
    a, b = "AAA " + shared + " BBB", "CC " + shared + " DDDD"
    fa = {e["fp"] for r in spark.createDataFrame([(a,)], "t string").select(winnow_fingerprints(F.col("t"), k=k, w=w).alias("f")).collect() for e in r["f"]}
    fb = {e["fp"] for r in spark.createDataFrame([(b,)], "t string").select(winnow_fingerprints(F.col("t"), k=k, w=w).alias("f")).collect() for e in r["f"]}
    assert fa & fb, "shared substring must share a fingerprint"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnow_fingerprints(F.col("t"), k=0)


def test_bloom_paragraph_scrub(spark):
    """Paragraph Bloom pass: corpus lines vanish from incoming docs in
    place, empty lines never drop (layout), untouched docs pass through
    byte-identical, all-dropped docs keep a row with empty text, and
    output is (m,k)-independent."""
    from language_identification_spark.operators.bloom import (
        bloom_paragraph_scrub,
    )

    corpus = spark.createDataFrame(
        [(100, "seen one\nseen two"), (101, "other corpus line")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "fresh a\nseen one\nfresh b"),   # middle line drops
            (2, "fresh only\n\nfresh tail"),      # untouched (empty kept)
            (3, "seen one\nseen two"),            # all lines drop
            (4, "fresh x\n\nseen two"),           # empty line survives
        ],
        "doc_id long, text string",
    )
    for m_bits, k in [(64, 1), (1 << 14, 5)]:
        got = {
            r["doc_id"]: r
            for r in bloom_paragraph_scrub(
                new, corpus, m_bits=m_bits, k=k
            ).collect()
        }
        assert (got[1]["text"], got[1]["n_paras"], got[1]["n_dropped"]) == (
            "fresh a\nfresh b", 3, 1
        )
        assert (got[2]["text"], got[2]["n_dropped"]) == (
            "fresh only\n\nfresh tail", 0
        )
        assert (got[3]["text"], got[3]["n_paras"], got[3]["n_dropped"]) == (
            "", 2, 2
        )
        assert (got[4]["text"], got[4]["n_dropped"]) == ("fresh x\n", 1)


def test_cjk_routing_fixes_word_rule_misjudgement(spark):
    """r6 per-script keep routing (VERDICT r5 ask #4): a genuine space-free
    zh doc fails every word-based rule (n_words == 1), which is exactly the
    misclassification the old rule set produced; the cjk route keeps it.
    Char-level spam is dropped by the cjk substitute rule. A latin doc that
    drops its spaces is garbage and still drops. Asserted through BOTH the
    Python oracle and the Spark predicate over the gates' feature UDF."""
    import pandas as pd

    from language_identification_spark.fixtures.pages import gen_pages
    from language_identification_spark.functions.text import (
        py_quality_features,
        with_quality_features,
    )
    from language_identification_spark.pipeline.rules import (
        MIN_WORDS,
        drop_reason_expr,
        py_drop_reason,
    )

    pdf = gen_pages(n_rows=800, seed=42)
    cases = {}  # (mode, lang) -> expected heuristic drop reason
    expected = {
        (12, "zh"): None,                         # genuine CJK prose: KEEP
        (13, "zh"): "cjk_char_repetition_high",   # char spam: cjk rule
        (12, "en"): "too_few_words",              # latin w/o spaces: garbage
    }
    rows = []
    for i, row in pdf.iterrows():
        key = (i % 20, row["lang"])
        if key in expected and key not in cases:
            cases[key] = row["text"].strip()
            rows.append((f"{key[0]}-{key[1]}", row["text"].strip()))
    assert set(cases) == set(expected)

    for key, norm in cases.items():
        feats = py_quality_features(norm)
        assert py_drop_reason(feats) == expected[key], key
        if key[1] == "zh":
            # the misjudgement the routing fixes: word tokenization sees
            # one giant token, so the OLD word rules would have dropped it
            assert feats["n_words"] < MIN_WORDS
            assert feats["is_cjk"]

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "norm_text"]))
    out = {
        r["k"]: r["reason"]
        for r in with_quality_features(df, "norm_text")
        # passing model scores, so only the heuristic rules can fire
        .withColumn("lang_conf", F.lit(1.0))
        .withColumn("perplexity", F.lit(0.0))
        .select("k", drop_reason_expr().alias("reason"))
        .collect()
    }
    assert out["12-zh"] is None
    assert out["13-zh"] == "cjk_char_repetition_high"
    assert out["12-en"] == "too_few_words"


def test_bpe_tokenizer_packing_and_chunking(spark):
    """r6 (VERDICT r5 ask #5): packing/chunking over the BPE token stream.
    Invariants: chunk capacity respected, every BPE token covered exactly
    once by the disjoint grid positions, chunk lengths sum to the same
    count token_count_bpe reports (so the packer and the chunker agree on
    document length), and pack offsets stay inside the window."""
    import pandas as pd

    from language_identification_spark.functions.analysis import token_count_bpe
    from language_identification_spark.operators.packing import (
        chunk_documents,
        pack_sequences,
    )

    texts = [
        "Hello, world! 123 foo_bar",          # punct + digits split
        "a" * 100 + " b2c3 " + "!" * 10,      # long runs + symbol burst
        "",                                    # empty
        "   \t\n ",                            # whitespace only
        "word " * 40,                          # ws-token == bpe-token case
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).withColumn("source", F.lit("s0"))

    counts = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", token_count_bpe("text").alias("n")).collect()
    }
    chunks = chunk_documents(df, chunk=7, stride=7, tokenizer="bpe").collect()
    per_doc: dict[int, list] = {}
    for r in chunks:
        assert 0 < r["n_chunk_tokens"] <= 7
        per_doc.setdefault(r["doc_id"], []).append(r)
    for i in range(len(texts)):
        got = sum(r["n_chunk_tokens"] for r in per_doc.get(i, []))
        assert got == counts[i], (i, got, counts[i])
        starts = sorted(r["start_token"] for r in per_doc.get(i, []))
        assert starts == [7 * k for k in range(len(starts))]  # disjoint grid

    packed = pack_sequences(
        df.select("doc_id", "source", token_count_bpe("text").alias("n_tokens")),
        seq_len=16,
        shard_col="source",
    ).collect()
    total = 0
    for r in sorted(packed, key=lambda r: r["doc_id"]):
        assert r["pack_offset"] == total % 16
        assert r["pack_id"] == total // 16
        assert r["spans_packs"] == (
            r["n_tokens"] > 0 and (total + r["n_tokens"] - 1) // 16 > total // 16
        )
        total += r["n_tokens"]


def test_bloom_merge_and_persist_lifecycle(spark, tmp_path):
    """r6 (VERDICT r5 ask #6): (a) merging per-shard filters is EXACTLY
    the filter built over the concatenated shards (bit_or associativity)
    — table-identical, hence probe-identical; (b) parameter mismatch
    refuses to merge; (c) a save→load parquet round trip preserves the
    parameters and the probe output; (d) load refuses a mixed-parameter
    table."""
    from language_identification_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
        load_bloom,
        merge_blooms,
        save_bloom,
    )

    vals = spark.range(300).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("digest"), F.col("id")
    )
    shards = [vals.filter(F.col("id") % 3 == i).select("digest") for i in range(3)]
    parts = [build_bloom(s, "digest", m_bits=1 << 12, k=5) for s in shards]
    merged = merge_blooms(*parts)
    rebuilt = build_bloom(vals.select("digest"), "digest", m_bits=1 << 12, k=5)
    a = sorted(map(tuple, merged.table.collect()))
    b = sorted(map(tuple, rebuilt.table.collect()))
    assert a == b  # table-identical, not merely probe-identical

    probe = spark.range(200, 400).select(
        F.col("id").alias("k"), F.concat(F.lit("doc-"), F.col("id")).alias("digest")
    )
    flags = {
        r["k"]: r["maybe_in_bloom"]
        for r in bloom_maybe_contains(probe, merged, "digest", "k").collect()
    }
    # no false negatives: every inserted digest (id < 300) must flag true
    assert all(flags[k] for k in range(200, 300))

    other = build_bloom(shards[0], "digest", m_bits=1 << 12, k=4)
    with pytest.raises(ValueError, match="differing"):
        merge_blooms(parts[0], other)

    path = str(tmp_path / "bloom")
    save_bloom(merged, path)
    loaded = load_bloom(spark, path)
    assert (loaded.m_bits, loaded.k, loaded.seed) == (
        merged.m_bits, merged.k, merged.seed,
    )
    flags2 = {
        r["k"]: r["maybe_in_bloom"]
        for r in bloom_maybe_contains(probe, loaded, "digest", "k").collect()
    }
    assert flags2 == flags

    bad = str(tmp_path / "bloom_bad")
    save_bloom(merged, bad)
    other_rows = other.table.select(
        "word_idx", "bits", F.lit(other.m_bits).alias("m_bits"),
        F.lit(other.k).alias("k"), F.lit(other.seed).alias("seed"),
        F.lit(other.scheme).alias("scheme"),
    )
    other_rows.write.mode("append").parquet(bad)
    with pytest.raises(ValueError, match="mixed"):
        load_bloom(spark, bad)


def test_bloom_portable_scheme(spark):
    """r6: the 'sha256' portable scheme must give the SAME maybe flags
    through the SQL probe (bloom_maybe_contains) and the Python bitmap
    probe (bloom_to_bitmap + py_bloom_maybe) — the property the streaming
    paragraph scrub builds on — and the SQL/hashlib position math must be
    bit-identical (incl. non-ASCII values). xxhash64 filters refuse the
    bitmap path."""
    import pytest as _pytest

    from language_identification_spark.operators.bloom import (
        bloom_maybe_contains,
        bloom_to_bitmap,
        build_bloom,
        py_bloom_maybe,
        py_bloom_positions,
    )

    vals = [f"val-{i}" for i in range(80)] + ["你好 世界", "naïve café", ""]
    df = spark.createDataFrame([(v,) for v in vals], "digest string")
    bloom = build_bloom(df, "digest", m_bits=1 << 10, k=4, seed=3, scheme="sha256")

    # position math: SQL expression vs hashlib, value for value
    from language_identification_spark.operators.bloom import _positions

    got = df.select(
        "digest", _positions(F.col("digest"), 1 << 10, 4, 3, "sha256").alias("p")
    ).collect()
    for r in got:
        assert list(r["p"]) == py_bloom_positions(r["digest"], 1 << 10, 4, 3)

    probe_vals = vals[:40] + [f"absent-{i}" for i in range(40)]
    probe = spark.createDataFrame(
        [(i, v) for i, v in enumerate(probe_vals)], "k long, digest string"
    )
    sql_flags = {
        r["k"]: r["maybe_in_bloom"]
        for r in bloom_maybe_contains(probe, bloom, "digest", "k").collect()
    }
    bitmap = bloom_to_bitmap(bloom)
    py_flags = dict(
        enumerate(py_bloom_maybe(probe_vals, bitmap, 1 << 10, 4, 3))
    )
    assert sql_flags == py_flags
    assert all(sql_flags[i] for i in range(40))  # no false negatives

    xx = build_bloom(df, "digest", m_bits=1 << 10, k=4)
    with _pytest.raises(ValueError, match="sha256"):
        bloom_to_bitmap(xx)


def test_wordhash_tokens_match_spark_words(spark):
    """r7: the vectorized word-gram hasher tokenizes in Python; its token
    list must equal Spark's words() split EXACTLY (Pattern.split(str,-1)
    keeps leading AND trailing empties) or window positions drift."""
    from language_identification_spark.functions.text import words
    from language_identification_spark.functions.wordhash import (
        batch_word_gram_hashes,
        java_ws_tokens,
    )

    texts = [
        "", " ", "   ", "a", " a", "a ", "a  b ", "\ta\nb\x0b", "one two three",
        "x \t", " \n y", "a b c d e",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: list(r["w"]) for r in df.select("i", words(F.col("t")).alias("w")).collect()}
    for i, t in enumerate(texts):
        assert java_ws_tokens(t) == got[i], (t, java_ws_tokens(t), got[i])
    # window counts line up with token counts for every k
    for k in (2, 4):
        arrs = batch_word_gram_hashes(texts, k)
        for t, a in zip(texts, arrs):
            assert len(a) == max(0, len(java_ws_tokens(t)) - k + 1)
    # identical windows hash identically across documents, distinct differ
    arrs = batch_word_gram_hashes(["p q r s t", "z p q r s"], 4)
    assert arrs[0][0] == arrs[1][1] and arrs[0][1] != arrs[1][0]


def test_char_ngram_counts_match_explode_form(spark):
    """r7: the vectorized partial-count pass must produce EXACTLY the
    rows of explode(char_ngrams_sql) -> groupBy -> count, for every
    (n, pad, lower, keyed/global) combination the trainers/gates use."""
    from language_identification_spark.functions.ngramcount import (
        char_ngram_counts,
    )
    from language_identification_spark.functions.text import char_ngrams_sql

    rows = [
        ("en", "hello world"),
        ("en", ""),
        ("de", "a"),
        ("de", "ÜbEr  maß"),
        ("el", "αβγ αβ"),
        ("zh", "的一是了我"),
        ("en", "MiXeD Case\t tabs\nnewlines"),
        # context-sensitive and multi-codepoint case mappings: the new
        # side folds with Python str.lower, the old side with Spark lower
        ("el", "ΟΔΟΣ ΣΟΦΟΣ."),
        ("tr", "İstanbul"),
        ("de", "ẞ"),
        ("hr", "ǅ"),
    ]
    df = spark.createDataFrame(rows * 3, "lang string, text string")
    # unpadded text shorter than n has no gram (slice must not see a
    # negative length)
    short = df.filter("text = 'a'").select(
        F.expr(char_ngrams_sql("text", 3, reference_pad=False)).alias("g")
    )
    assert [r["g"] for r in short.collect()] == [[]] * 3
    for n in (1, 2, 3):
        for pad in (True, False):
            for lower in (True, False):
                src = "lower(text)" if lower else "text"
                grams = F.expr(char_ngrams_sql(src, n, reference_pad=pad))
                old = (
                    df.select("lang", F.explode(grams).alias("g"))
                    .groupBy("lang", "g").count()
                )
                new = char_ngram_counts(df, n, key_col="lang", lower=lower, pad=pad, gram_col="g")
                got = {(r["lang"], r["g"]): r["cnt"] for r in new.collect()}
                want = {(r["lang"], r["g"]): r["count"] for r in old.collect()}
                assert got == want, (n, pad, lower)
    # global (no key) mode
    old = (
        df.select(F.explode(F.expr(char_ngrams_sql("lower(text)", 2))).alias("g"))
        .groupBy("g").count()
    )
    new = char_ngram_counts(df, 2, lower=True, pad=True, gram_col="g")
    assert {(r["g"], r["cnt"]) for r in new.collect()} == {
        (r["g"], r["count"]) for r in old.collect()
    }


def test_fold_case_is_python_lower_on_arrow_strings():
    """The gram kernels' case folding is str.lower per element, also on
    an Arrow-backed series, where pandas' own ``.str.lower()`` gives
    "οδοσ" (no final sigma) and "i" for 'İ'."""
    import pandas as pd

    from language_identification_spark.functions.ngramcount import fold_case

    texts = pd.Series(["ΟΔΟΣ", "İ", "ẞ", ""], index=[3, 5, 7, 9], dtype="string[pyarrow]")
    got = fold_case(texts)
    assert got.tolist() == ["οδος", "i\u0307", "ß", ""]
    assert got.index.tolist() == [3, 5, 7, 9]
    assert all(type(t) is str for t in got)


def test_word_counts_match_python_lower_split(spark, pages_pdf):
    """Lowercase-parity twin for the vocab tokenizer: ``_word_counts``
    equals a Counter over ``re.split("[ \\t\\n]+", t.lower())`` with
    empty strings dropped, on the fixture pages, context-sensitive case
    mappings, and NULL, empty and whitespace-only text. (Codepoints
    added after CPython's Unicode database, e.g. U+A7CB, are left out:
    ``_word_counts`` still folds with Spark's ``lower()``.)"""
    import re
    from collections import Counter

    from language_identification_spark.operators.vocab import _word_counts

    texts = pages_pdf["text"].tolist() + [
        "ΟΔΟΣ ΣΟΦΟΣ.", "İstanbul", "ẞ", "ǅ", "MiXeD\tCase\n\nWords  x",
        None, "", " ", " \t\n ", "\n lead and trail \t",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["word"]: r["cnt"] for r in _word_counts(df, "text").collect()}
    want = Counter(
        w for t in texts if t is not None
        for w in re.split("[ \t\n]+", t.lower()) if w != ""
    )
    assert got == dict(want)


def test_token_buckets_udf_matches_sql(spark):
    """r7: the vectorized fold UDF must emit exactly the DuckDB twin's
    token bucket lists (same trim/split/fold/mod semantics), including
    empty-after-trim, leading/trailing ws tokens, and NULL text."""
    from language_identification_spark.operators.selection import (
        token_buckets_udf,
    )

    texts = [
        "hello world", "", "   ", "\ta b", "a b ", " a\nb\t", "ÜbEr maß",
        "的一是 了我", None, "x",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    for nb in (7, 1024):
        udf = {r["i"]: r["b"] and list(r["b"]) for r in df.select(
            "i", token_buckets_udf(nb)(F.col("t")).alias("b")).collect()}
        duck = dict(enumerate(_duck_token_buckets(texts, nb)))
        assert udf == duck, (nb, udf, duck)


def test_batch_repetition_matches_per_doc():
    """r7: the vectorized repetition pass must equal the per-doc Counter
    oracle bit for bit on fixture prose AND adversarial shapes (ties,
    full-spam, short docs, early-exit boundaries)."""
    import numpy as np

    from language_identification_spark.fixtures.pages import gen_pages
    from language_identification_spark.functions.text import (
        batch_repetition_features,
        py_repetition_features,
        py_words,
    )

    texts = list(gen_pages(n_rows=300, seed=11)["text"])
    texts += [
        "",
        "one",
        "a b a b a b a b a b",                     # dense 2-gram repeats
        "x y z x y z x y z",                       # 3-gram tiling
        "aa bb aa bb cc dd cc dd",                 # tie on count, len differs
        "w " * 60,                                 # one token repeated
        "p q r s t u v w x y z " * 3,              # long-order repeats
        "solo tokens only never repeat here at all",
    ]
    toks_list = [py_words(t) for t in texts]
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    got = batch_repetition_features(toks_list, n_chars)
    for i, t in enumerate(texts):
        want = py_repetition_features(toks_list[i], len(t))
        for k, v in want.items():
            assert got[k][i] == v, (k, i, t[:40], got[k][i], v)


# Every class bound on both sides, plus U+FFFF, an astral emoji, NUL and
# a lone surrogate (a Python list can carry one; Arrow strings cannot).
RANGE_EDGES = [
    "\u036f\u0370", "\u0390\u0391", "\u03c9\u03ca", "\u03ff\u0400",
    "\u040f\u0410", "\u044f\u0450", "\u04ff\u0500", "\u00bf\u00c0",
    "\u00ff\u0100", "\u4dff\u4e00", "\u9fff\ua000", "@AZ[`az{",
    "\uffff", "\U0001f600", "\x00",
]


def test_batch_script_counts_match_regex():
    """r7: the script/symbol counts equal literal regex classes character
    for character, spelled here and not taken from the package."""
    import re

    from language_identification_spark.functions.text import (
        batch_script_symbol_counts,
    )

    classes = {
        "n_cjk": "[\u4e00-\u9fff]",
        "n_latin": "[A-Za-z]",
        "n_cyrillic": "[\u0400-\u04ff]",
        "n_greek": "[\u0370-\u03ff]",
        "n_symbol": "[#!$%&*+=@^~|<>]",
    }
    texts = [
        "", "plain ascii text!", "的一是了我 ascii 混合", "Ѐѡӿ cyr", "Ͱπῶ greek",
        "symbols #!$%&*+=@^~|<> here", "edge ䷿一鿿ꀀ",
        "ϿЀӿԀ", "ͯͰ", "@@@", "ÀÖøÿ latin-1 letters",
        *RANGE_EDGES, "\ud800", "a\udfffЀ", "".join(RANGE_EDGES),
    ]
    got = batch_script_symbol_counts(texts)
    assert set(got) == set(classes)
    for k, cls in classes.items():
        assert got[k].tolist() == [len(re.findall(cls, t)) for t in texts], k


def test_quality_score_udf_matches_regex(spark):
    """r7: the vectorized quality_score must equal the all-regexp form
    value for value, including range edges (x/÷ inside À-ÿ, U+03A2
    inside Α-ω, every class bound on both sides), NULL text, and empty
    text."""
    from pyspark.sql import Column

    from language_identification_spark.functions.analysis import quality_score

    def regex_form(col: Column) -> Column:
        n = F.greatest(F.length(col), F.lit(1)).cast("double")
        alpha_ratio = F.regexp_count(col, F.lit("[A-Za-zÀ-ÿА-яΑ-ω一-鿿]")) / n
        space_ratio = F.regexp_count(col, F.lit("[ ]")) / n
        symbol_ratio = F.regexp_count(col, F.lit("[#!$%&*+=@^~|<>]")) / n
        score = (
            alpha_ratio * 0.6
            + F.least(space_ratio * 4, F.lit(1.0)) * 0.3
            + (1 - F.least(symbol_ratio * 10, F.lit(1.0))) * 0.1
        )
        return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)

    texts = [
        None, "", "plain text here", "×÷ are in the À-ÿ range", "΢ω greek edge",
        "一鿿ꀀ cjk bounds", "#!$%&*+=@^~|<> symbols", "   spaces   ",
        "Ѐяѐ cyr edge", "mixed 的一 Ѐ text ~|", "\t\nweird ws\x0b",
        *RANGE_EDGES, "".join(RANGE_EDGES),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["q"] for r in df.select("i", quality_score(F.col("t")).alias("q")).collect()}
    want = {r["i"]: r["q"] for r in df.select("i", regex_form(F.col("t")).alias("q")).collect()}
    assert got == want, (got, want)
    # one Arrow node holding one UDF call: each batch is counted once
    import re as _re2

    from language_identification_spark.plans.asserts import explain_str

    plan = explain_str(df.select(quality_score(F.col("t"))))
    assert len(_re2.findall(r"^\(\d+\) ArrowEvalPython", plan, _re2.M)) == 1, plan
    args = _re2.search(r"^\(\d+\) ArrowEvalPython\n.*\nArguments: (.*)$", plan, _re2.M)
    assert len(_re2.findall(r"pythonUDF\d+#", args.group(1))) == 1, plan


def test_doc_fingerprint_udf_matches_sql(spark):
    """r7: the vectorized fingerprint must equal the DuckDB
    ``fingerprints`` oracle value for value, including empty, unicode,
    long and NULL texts (NULL stays NULL in both)."""
    import duckdb

    import __spark_entry__ as entrymod
    from language_identification_spark.functions.analysis import doc_fingerprint

    texts = ["", None, "hello", "的一是了我", "x" * 5000, "mixed 的 text", "a"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", doc_fingerprint(F.col("text")).alias("f")).collect()
    }
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = dict(con.sql(entrymod.oracle_sql()["fingerprints"]).fetchall())
    assert got[1] is None
    assert got == want, (got, want)


def test_gopher_scores_twin_drops_empty_tokens(spark, tmp_path):
    """The ``gopher_scores`` DuckDB twin tokenizes like the serving kernel
    on texts with leading or trailing whitespace, ``""`` and whitespace
    only (its split used to yield an empty token at each edge)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from language_identification_spark.oracle.gate import gate_mismatch

    texts = [" the cat sat", "the cat sat\t", "", " \t ", "\nand the end \n"]
    # doc_id % 4 == 3 leaves the text unplanted; the others plant lines
    pdf = pd.DataFrame({"doc_id": range(3, 3 + 4 * len(texts), 4), "text": texts})
    pdf = pd.concat([pdf, pdf.assign(doc_id=pdf.doc_id + 1)], ignore_index=True)
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = entrymod.queries()["gopher_scores"](spark, str(tmp_path))
    srows = out.collect()
    con = duckdb.connect()
    con.register("documents", pdf)
    rel = con.sql(entrymod.oracle_sql()["gopher_scores"])
    orows = rel.fetchall()
    assert {r["doc_id"]: r["n_words"] for r in srows}[3] == 3
    assert gate_mismatch(
        out.columns, srows, out.toPandas(), rel.columns, orows, rel.df()
    ) is None


def _dunning_two_pass(df, smoothing):
    """The previous train_dunning: two count passes, an eager vocab
    count and a left join — the twin the one-pass trainer is pinned to."""
    from language_identification_spark.functions.ngramcount import char_ngram_counts

    low = F.lower(F.col("text"))
    uni = char_ngram_counts(
        df.select("lang", low.alias("text")),
        1, key_col="lang", lower=False, pad=False, gram_col="raw",
    ).select("lang", F.concat(F.lit("c_"), F.col("raw")).alias("feat"), "cnt")
    pad = F.concat(F.lit("_"), low, F.lit("_"))
    bg = char_ngram_counts(
        df.select("lang", pad.alias("text")),
        2, key_col="lang", lower=False, pad=False, gram_col="raw",
    ).select("lang", F.concat(F.lit("bg_"), F.col("raw")).alias("feat"), "cnt")
    counts = uni.unionAll(bg)
    vocab = counts.select("feat").distinct()
    vocab_size = vocab.count()
    lang_totals = counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    full = lang_totals.crossJoin(F.broadcast(vocab))
    joined = full.join(counts, ["lang", "feat"], "left").na.fill({"cnt": 0})
    return joined.select(
        "lang", "feat",
        (
            (F.col("cnt") + F.lit(smoothing))
            / (F.col("total") + F.lit(smoothing) * F.lit(float(vocab_size)))
        ).alias("prob"),
    )


def test_train_dunning_matches_two_pass_form(spark):
    """The one-pass Dunning trainer must equal the two-pass twin row for
    row, probabilities compared with ==, on hostile rows: NULL, empty and
    whitespace-only text, a language whose only document is NULL, 'İ'
    (lowercases to two codepoints), a NUL byte and an astral emoji."""
    from language_identification_spark.models.train import (
        DUNNING_SMOOTHING,
        train_dunning,
    )

    rows = [
        ("en", "Hello World"),
        ("en", None),
        ("en", ""),
        ("de", "   \t\n "),
        ("de", "Straße İstanbul"),
        ("tr", "İİ ı"),
        ("xx", None),
        ("el", "nul\x00byte αβγ"),
        ("zh", "的一是 😀😀 emoji"),
        (None, "orphan text"),
    ]
    df = spark.createDataFrame(rows * 2, "lang string, text string")
    got = {(r["lang"], r["feat"]): r["prob"] for r in train_dunning(df).collect()}
    want = {
        (r["lang"], r["feat"]): r["prob"]
        for r in _dunning_two_pass(df, DUNNING_SMOOTHING).collect()
    }
    assert got == want
    assert "xx" not in {lang for lang, _ in got}


def test_model_table_to_dict_matches_row_collect(spark, pages_pdf):
    """The Arrow collect must build the same dict as a Row collect for
    all five model families, with builtin str/int/float values."""
    from language_identification_spark.models import train as tr

    def row_dict(model_df, kind):
        rows = model_df.collect()
        out: dict = {}
        if kind == "markov":
            for r in rows:
                out.setdefault(r["lang"], {}).setdefault(r["cur"], {})[r["nxt"]] = r["prob"]
            return out
        if kind == "cavnar_trenkle":
            for r in rows:
                out.setdefault(r["lang"], []).append((r["rank"], r["ngram"], r["cnt"]))
            return {k: [(g, c) for _, g, c in sorted(v)] for k, v in out.items()}
        key = {"ngram": "ngram", "char_freq": "char", "dunning": "feat"}[kind]
        for r in rows:
            out.setdefault(r["lang"], {})[r[key]] = r["prob"]
        return out

    def leaves(v):
        if isinstance(v, dict):
            for k, x in v.items():
                yield k
                yield from leaves(x)
        elif isinstance(v, list):
            for x in v:
                yield from leaves(x)
        elif isinstance(v, tuple):
            yield from v
        else:
            yield v

    pdf = pages_pdf[["text", "lang"]].head(200).copy()
    pdf["doc_idx"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    tables = {
        "ngram": tr.train_ngram_lm(df, n=2),
        "char_freq": tr.train_char_freq(df),
        "markov": tr.train_markov(df),
        "cavnar_trenkle": tr.train_cavnar_trenkle(df),
        "dunning": tr.train_dunning(df),
    }
    for kind, tbl in tables.items():
        got = tr.model_table_to_dict(tbl, kind)
        assert got == row_dict(tbl, kind), kind
        assert {type(x) for x in leaves(got)} <= {str, int, float}, kind

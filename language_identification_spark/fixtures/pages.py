"""Deterministic synthetic Common-Crawl-style ``pages`` fixture.

Schema per BASELINE.json ``input_hint``:
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
plus a pinned ``split`` column ('train'/'test', stratified 80/20 per lang) that
replaces the reference's sklearn ``train_test_split(random_state=42,
stratify=labels)`` (reference: src/utils.py:105-123) — membership is pinned in
the fixture so both the Spark build and the pure-Python oracle see the exact
same split without replaying sklearn's RNG.

Languages are synthetic: each has a distinct alphabet/digraph distribution so
the reference's statistical models (char n-gram LM, char-frequency cosine,
Markov chain; reference src/models/statistical_models.py) separate them
cleanly, mirroring the 22-language Kaggle corpus shape
(reference results/dataset_statistics.json). A controlled fraction of rows
carries injected PII (emails/phones/IPs/fake-slur tokens), boilerplate
repetition, symbol runs, and out-of-bounds lengths to exercise every
heuristic rule and the scrubber.

Everything is seeded ``random.Random`` — no wall clock, no hash
randomization, no external data.
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta, timezone

import pandas as pd

# ---------------------------------------------------------------------------
# Synthetic language definitions: (alphabet, accent-chars, word-length range)
# Distinct alphabets => char distributions separate languages cleanly.
# ---------------------------------------------------------------------------
LANGS: dict[str, dict] = {
    "en": {"chars": "etaoinshrdlucmfwyp", "extra": "", "wl": (2, 9)},
    "fr": {"chars": "esaitnrulodcmp", "extra": "éèàçêùâ", "wl": (2, 10)},
    "de": {"chars": "enisratdhulcgm", "extra": "äöüß", "wl": (3, 12)},
    "es": {"chars": "eaosrnidltcmup", "extra": "ñáíóú", "wl": (2, 10)},
    "tr": {"chars": "aeinrlkdmuytsb", "extra": "ıışğçöü", "wl": (3, 11)},
    "ru": {"chars": "оеаинтсрвлкмдп", "extra": "ужыэючщ", "wl": (3, 11)},
    "el": {"chars": "αεοιντσρυκμπλ", "extra": "ωηθφχψ", "wl": (3, 10)},
    "zh": {"chars": "的一是了我不人在他有这中大来上国", "extra": "个到说们为子和你", "wl": (1, 3)},
}

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

# Fake "slur" lexicon — invented placeholder tokens standing in for a real
# toxicity lexicon (kept synthetic on purpose; the scrub machinery is what
# matters, not the wordlist).
SLUR_LEXICON = ("grobnak", "zilftwerp", "quvvorn")


def _lang_vocab(lang: str, size: int = 60) -> list[str]:
    """Deterministic per-language word list from its alphabet."""
    cfg = LANGS[lang]
    rng = random.Random(f"vocab::{lang}")
    alphabet = cfg["chars"] + cfg["extra"]
    lo, hi = cfg["wl"]
    vocab = []
    seen = set()
    while len(vocab) < size:
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


def fixture_stopwords() -> tuple[str, ...]:
    """Tiny per-fixture-language stop-word lexicon: the 20 most frequent
    (= first-generated, the fixture draws uniformly) vocabulary words of
    each synthetic language. Deterministic — both engines and the DuckDB
    oracle embed the identical literal list. The default lexicon of
    ``pipeline.rules`` resolves to this lazily."""
    stops: set[str] = set()
    for lang in LANGS:
        stops.update(_lang_vocab(lang)[:20])
    return tuple(sorted(stops))


def _pii_snippets(rng: random.Random) -> list[str]:
    out = []
    kind = rng.randint(0, 3)
    if kind == 0:
        out.append(f"user{rng.randint(1, 9999)}@example{rng.randint(1, 99)}.com")
    elif kind == 1:
        out.append(f"+1-555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}")
    elif kind == 2:
        out.append(f"{rng.randint(1, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 255)}")
    else:
        out.append(rng.choice(SLUR_LEXICON))
    return out


def gen_pages(
    n_rows: int = 2000,
    seed: int = 42,
    langs: list[str] | None = None,
    skew_lang: str | None = None,
    skew_frac: float = 0.0,
) -> pd.DataFrame:
    """Generate the pages fixture as a pandas DataFrame.

    ``skew_lang``/``skew_frac`` produce the Zipf-skew variant (e.g. 90%
    English) used by the salting/AQE tests.
    """
    langs = langs or list(LANGS)
    vocabs = {lg: _lang_vocab(lg) for lg in langs}
    rng = random.Random(seed)
    rows = []
    per_lang_counter: dict[str, int] = {lg: 0 for lg in langs}

    for i in range(n_rows):
        if skew_lang is not None and rng.random() < skew_frac:
            lang = skew_lang
        else:
            lang = langs[i % len(langs)]
        # The 8-lang × 20-mode striping never lands zh on the r6
        # space-free modes; force zh on alternate occurrences so the CJK
        # route sees genuine space-free prose AND char-level spam.
        if i % 20 in (12, 13) and (i // 20) % 2 == 0 and "zh" in langs:
            lang = "zh"
        r = random.Random((seed << 20) ^ (i * 2654435761 % (1 << 31)))
        vocab = vocabs[lang]
        n_words = r.randint(8, 80)
        words = [r.choice(vocab) for _ in range(n_words)]

        # Controlled anomalies to exercise heuristics + scrubber.
        mode = i % 20
        if mode == 0:  # PII injection
            pos = r.randint(0, len(words))
            words[pos:pos] = _pii_snippets(r)
        elif mode == 1:  # boilerplate repetition
            sent = " ".join(words[:5])
            words = (words[:5] * 10)[:60]
            _ = sent
        elif mode == 2:  # symbol runs
            words.insert(r.randint(0, len(words)), "!!!###$$$%%%" * 3)
        elif mode == 3:  # too short
            words = words[:1]
        elif mode == 4:  # very long
            words = words * 8
        elif mode == 5:  # leading/trailing whitespace (normalization path)
            words = ["  "] + words + ["\t\n"]

        text = " ".join(words)
        if mode == 5:
            text = "  " + text.strip() + " \t\n"
        # r4 Gopher-rule anomalies — multi-line shapes that trip exactly one
        # of the new line/stop-word rules (other features stay in bounds).
        elif mode == 6:  # bullet-list page: every line a bullet (ratio 1.0)
            text = "\n".join(
                "- " + " ".join(words[k : k + 4]) for k in range(0, len(words), 4)
            )
        elif mode == 7:  # "..."-truncated teaser lines (ratio 0.5 > 0.3)
            half = max(len(words) // 2, 4)
            l1 = " ".join(words[:half]) + "..."
            l2 = " ".join(words[half:]) or "tail"
            l3 = " ".join(words[: half // 2]) + "…"
            l4 = " ".join(words[half // 2 :]) or "tail2"
            text = "\n".join([l1, l2, l3, l4])
        elif mode == 8:  # repeated boilerplate lines (dup ratio 0.5 > 0.3)
            half = max(len(words) // 2, 2)
            l1, l2 = " ".join(words[:half]), " ".join(words[half:]) or "tail"
            text = "\n".join([l1, l2, l1, l2])
        elif mode == 9:  # zero stop words: draw only from the tail vocab
            tail_vocab = vocab[20:]
            text = " ".join(r.choice(tail_vocab) for _ in range(len(words)))
        # r5 Gopher repetition anomalies — each trips exactly one of the
        # word-n-gram rules while every other feature stays in bounds.
        elif mode == 10:  # one 2-gram hammered: top_2gram_char_frac > 0.20
            # 3 fillers between repeats: a duplicated 5-gram would need an
            # identical filler TRIPLE in the same alignment (~58^-3), so
            # only the 2-gram rule trips.
            pair = [vocab[0], vocab[1]]
            out = []
            for k in range(16):
                out.extend(pair)
                out.extend(r.choice(vocab) for _ in range(3))
            text = " ".join(out)
        elif mode == 11:  # two distinct 5-word phrases, each ×2: dup_5gram
            # count-2 repeats keep every top_{2,3,4} fraction far under
            # its bound (2·len4/n_chars) while dup_5 sums BOTH phrases
            # (2·len5A + 2·len5B)/n_chars — comfortably over 0.15 for
            # every fixture language incl. short-word zh.
            pa = [vocab[2], vocab[5], vocab[8], vocab[11], vocab[14]]
            pb = [vocab[3], vocab[6], vocab[9], vocab[12], vocab[15]]
            fill = lambda k: [r.choice(vocab) for _ in range(k)]  # noqa: E731
            text = " ".join(
                fill(10) + pa + fill(8) + pb + fill(8) + pa + fill(8) + pb + fill(10)
            )
        # r6 per-script routing anomalies (VERDICT r5 ask #4). Mode 12 is
        # the genuine-CJK case the word-based rules misjudge: space-free
        # layout, one "word" — for zh this is REAL prose (must be kept by
        # the cjk route); for latin scripts it's genuine garbage (dropped
        # by too_few_words / mean_word_len_high, correctly).
        elif mode == 12:  # space-free layout (genuine for CJK scripts)
            while len(words) < 40:
                words.append(r.choice(vocab))
            text = "".join(words)
        elif mode == 13:  # char-level spam: one short phrase ×N, no spaces
            phrase = "".join(words[:4]) or "ab"
            text = phrase * (120 // len(phrase) + 1)

        url = f"https://site{i % 97}.example/{hashlib.sha1(str(i).encode()).hexdigest()[:12]}"
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        k = per_lang_counter[lang]
        per_lang_counter[lang] += 1
        split = "test" if k % 5 == 4 else "train"  # pinned stratified 80/20
        rows.append(
            {
                "url": url,
                "warc_ts": BASE_TS + timedelta(seconds=i * 7),
                "html": html,
                "text": text,
                "lang": lang,
                "split": split,
            }
        )
    pdf = pd.DataFrame(rows)
    # Spark's parquet reader rejects TIMESTAMP(NANOS); pin microseconds.
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us, UTC]")
    return pdf


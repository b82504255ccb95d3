"""The one codepoint module (functions/codepoints.py): its layout, window
gather and fold against plain per-segment Python loops; the package
holds no second copy of them; and literal pins of the whole-batch
kernels' hash values.

The dedup and langid families consume these hashes as transport values,
so a change to the codepoint layout must leave every value as it is.
Short docs are pinned value for value; the 2,000-char doc by its count
and the sha256 of its int64 bytes.
"""

from __future__ import annotations

import ast
import hashlib
import re
from pathlib import Path

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from language_identification_spark.functions import codepoints as cps
from language_identification_spark.functions.wordhash import (
    batch_char_gram_hashes,
    batch_word_gram_hashes,
)
from language_identification_spark.models.hashed_ngram import (
    batch_bucket_ids,
    doc_bucket_ids,
)

LONG = "".join(
    " " if i % 7 == 3 else chr(0x61 + (i * 7919) % 26) if i % 11 else "語"
    for i in range(2000)
)
TEXTS = [
    None,
    "",
    "a",
    "\x00",
    "语言识别很有趣",
    "hi 😀 there 😀!",
    " a\tb\n\x0bc\x0c d\r  e ",
    LONG,
]


def _sha(a) -> str:
    return hashlib.sha256(np.ascontiguousarray(a, dtype=np.int64).tobytes()).hexdigest()


CJK5 = [-7660017000748546629, -6023447890050490880, -3587415297291553922]
CHAR5_DISTINCT = [[], [], [], [], CJK5, [
    -4818857502449153964, -855790922193025126, -638028103319345532,
    166897847579428822, 2552124218453459861, 5596045837602887362,
    5973344951112527285, 6302535658831816435, 6854098409008652665,
], [
    -8686595431937702047, -6456831629173896415, -5583481097062192126,
    -3596052337273277483, 146975436276938503, 1443291576837605695,
    2789589782806595458, 3155529631696867897, 3463930776926577072,
    6663687271167501893, 8524876848817531572,
]]
CHAR5_ALL = [[], [], [], [], CJK5, [
    5973344951112527285, -4818857502449153964, 6302535658831816435,
    166897847579428822, 6854098409008652665, -638028103319345532,
    2552124218453459861, -855790922193025126, 5596045837602887362,
], [
    8524876848817531572, -6456831629173896415, -8686595431937702047,
    -5583481097062192126, 1443291576837605695, 146975436276938503,
    3155529631696867897, 3463930776926577072, -3596052337273277483,
    6663687271167501893, 2789589782806595458,
]]
WORD3 = [[], [], [], [], [], [2539994832879399583, -2266346708700743702], [
    -4337063187227631028, 3099653435698433041, 4218238598970117067,
    -5104093397914022409, 5363578022488801032,
]]


def test_char_gram_hashes_pinned():
    for distinct, short, n_long, sha in (
        (True, CHAR5_DISTINCT, 804,
         "6e4d3651e7698c1180cc9fedba46ee7cf41722633638bf859e92bb590b6ccb03"),
        (False, CHAR5_ALL, 1996,
         "b7c4059e4e4d391e68d902b5a05adce99ac072ad9dd59b64ddd70523f0df7f5b"),
    ):
        got = batch_char_gram_hashes(TEXTS, 5, distinct=distinct)
        assert all(g.dtype == np.int64 for g in got)
        assert [g.tolist() for g in got[:-1]] == short
        assert (len(got[-1]), _sha(got[-1])) == (n_long, sha)


def test_word_gram_hashes_pinned():
    got = batch_word_gram_hashes(TEXTS, 3)
    assert all(g.dtype == np.int64 for g in got)
    assert [g.tolist() for g in got[:-1]] == WORD3
    assert (len(got[-1]), _sha(got[-1])) == (
        285, "01d06f3dee13e21106602f88401dcbfa43e7bece308df941e5dfa269ebd35d72"
    )


BUCKET_BOUNDS = [0, 1, 2, 4, 6, 14, 28, 44]
BUCKET_COUNTS = [1, 1, 2, 2, 8, 14, 16, 2001]
BUCKETS_SHORT = [
    [56093, 56093, 43383, 56093, 0, 56093, 1736, 59776, 52277, 3586, 59504,
     10874, 13264, 56093, 11509, 56274, 40829, 18638, 40829, 48395, 11509,
     11940, 55024, 11940, 40829, 18638, 22799, 56093, 40829, 43383, 61909,
     46708, 54029, 29380, 27495, 45109, 40829, 11362, 12613, 40829, 40829,
     11940, 40829, 56093],
    [11467, 11467, 42431, 2679, 10649, 56093, 50805, 58596, 5147, 37944, 5800,
     58800, 48222, 65356, 1498, 29679, 64385, 31578, 63590, 43765, 15198,
     31294, 40808, 23037, 56944, 31578, 25284, 42326, 44990, 14262, 4476,
     56860, 18969, 4955, 2483, 23977, 10384, 55450, 4228, 1219, 1820, 24537,
     56944, 5121],
    [33218, 33218, 25150, 37921, 65184, 24207, 15882, 45854, 50766, 19431,
     38985, 64575, 48851, 15794, 12360, 64222, 53091, 367, 38065, 15785, 21077,
     40621, 40298, 53686, 13815, 50645, 58511, 34905, 58247, 5829, 8427, 59311,
     37975, 26595, 29870, 49778, 62134, 33482, 38325, 40723, 27971, 61190,
     48432, 47588],
]
BUCKETS_LONG_SHA = [
    "b56c8c2d75c1fbc7e26c31270c961a049b60b546e989c155871ce757b6bf36c6",
    "01ac1b0674d138f75db5b23272ad8feb8db66638e9b693b942c004a2a0eeae93",
    "6bc2775266b04dedfe66b6db76816c101cfbb19da3e4a1df06192cfc7de622f5",
]


def test_bucket_ids_pinned_and_equal_per_doc():
    *ids, bounds, counts = batch_bucket_ids(TEXTS)
    assert bounds.tolist() == BUCKET_BOUNDS
    assert counts.tolist() == BUCKET_COUNTS
    end = BUCKET_BOUNDS[-1]
    for per_n, short, sha in zip(ids, BUCKETS_SHORT, BUCKETS_LONG_SHA):
        assert per_n.dtype == np.int64
        assert per_n[:end].tolist() == short
        assert _sha(per_n[end:]) == sha
    # the per-doc form is the batch form sliced per doc, n = 1, 2, 3
    cum = np.append(bounds, counts.sum())
    for i, t in enumerate(TEXTS):
        want = np.concatenate([per_n[cum[i] : cum[i + 1]] for per_n in ids])
        assert np.array_equal(doc_bucket_ids(t if isinstance(t, str) else ""), want)


# --------------------------------------------------------- one module

PKG = Path(__file__).resolve().parents[1] / "language_identification_spark"
CODEPOINTS = PKG / "functions" / "codepoints.py"
# FNV offset and prime, POLY, the fold modulus, the two fmix64 multipliers
HASH_CONSTANTS = {
    0xCBF29CE484222325, 0x100000001B3, 1000003, 1_000_000_007,
    0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53,
}


def _package_nodes():
    for path in sorted(PKG.rglob("*.py")):
        if path != CODEPOINTS:
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                yield f"{path.relative_to(PKG)}:{getattr(node, 'lineno', 0)}", node


def _is_call(node, *attrs):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in attrs
    )


def _is_utf32(node):
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.lower().replace("_", "-").startswith("utf-32")
    )


def test_one_codepoint_module():
    """No module outside functions/codepoints.py encodes or decodes
    utf-32, gathers per-segment windows (``arange + repeat``) or spells a
    hash constant."""
    hits = []
    for where, node in _package_nodes():
        if _is_call(node, "encode", "decode") and any(
            _is_utf32(a) for a in [*node.args, *(k.value for k in node.keywords)]
        ):
            hits.append(f"{where} utf-32 .{node.func.attr}(")
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Add)
            and _is_call(node.left, "arange")
            and _is_call(node.right, "repeat")
        ):
            hits.append(f"{where} window gather")
        if isinstance(node, ast.Constant) and isinstance(node.value, int) and (
            node.value in HASH_CONSTANTS
        ):
            hits.append(f"{where} hash constant {node.value:#x}")
    assert hits == []


def _spans(classes):
    """The contiguous codepoint spans of a union of classes."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted((lo, hi) for c, lo, hi in cps.CLASS_RANGES if c in classes):
        if out and lo == out[-1][1] + 1:
            out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


# Range tests (both bounds of a class or script span in one expression)
# and the classed non-ASCII scripts a regex range may not overlap. ASCII
# and Latin-1 regex ranges are left out: the tokenizer, URL and mojibake
# grammars spell their own.
_CLASS_BOUNDS = {
    (lo, hi)
    for union in [*((c,) for c in range(cps.N_CLASSES)), *cps.SCRIPT_UNIONS.values()]
    for lo, hi in _spans(union)
    if lo < hi
}
_SCRIPT_SPANS = [
    (lo, hi) for c, lo, hi in cps.CLASS_RANGES
    if c in (cps.CYR_CORE, cps.CYR_REST, cps.GREEK_CORE, cps.GREEK_REST, cps.CJK)
]
_CP = r"(\\x\{[0-9a-fA-F]+\}|\\u[0-9a-fA-F]{4}|[^\\\[\]])"
_REGEX_RANGE = re.compile(_CP + "-" + _CP)
_REGEX_CLASS = re.compile(r"\[([^\]]+)\]")


def _cp_of(tok: str) -> int:
    return int(tok.strip("\\xu{}"), 16) if len(tok) > 1 else ord(tok)


def test_one_codepoint_class_table():
    """No module outside functions/codepoints.py tests a codepoint against
    both bounds of a class range, or spells a regex range inside the
    Cyrillic, Greek or CJK classes: every script, alpha, space and symbol
    counter reads codepoints.CLASS_RANGES."""
    hits = []
    for where, node in _package_nodes():
        if isinstance(node, (ast.BoolOp, ast.BinOp, ast.Compare)):
            ints = {
                c.value for c in ast.walk(node)
                if isinstance(c, ast.Constant) and type(c.value) is int
            }
            for lo, hi in _CLASS_BOUNDS:
                if {lo, hi} <= ints:
                    hits.append(f"{where} range test {lo:#x}-{hi:#x}")
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            for body in _REGEX_CLASS.findall(node.value):
                for a, b in _REGEX_RANGE.findall(body):
                    lo, hi = _cp_of(a), _cp_of(b)
                    if any(lo <= s_hi and s_lo <= hi for s_lo, s_hi in _SCRIPT_SPANS):
                        hits.append(f"{where} regex range {node.value!r}")
    assert hits == []


def test_script_classes_render_the_table():
    """The JVM script classes are the literal ranges the Spark and DuckDB
    twins spell."""
    assert {k: cps.char_class(v) for k, v in cps.SCRIPT_UNIONS.items()} == {
        "n_latin": "[A-Za-z]",
        "n_cjk": "[\u4e00-\u9fff]",
        "n_cyrillic": "[\u0400-\u04ff]",
        "n_greek": "[\u0370-\u03ff]",
    }


# ------------------------------------------------ layout vs plain loops

_SPECIAL = st.sampled_from(["\x00", "\ud800", "\udfff", "😀", "語", "_", " "])
_TEXT = st.text(alphabet=st.one_of(st.characters(), _SPECIAL), max_size=40)
_TEXTS = st.lists(st.one_of(st.none(), st.just(""), _TEXT), max_size=12)
_PAD = st.sampled_from(["", "_", "__", "____"])
_MASK64 = (1 << 64) - 1


@given(_TEXTS, _PAD, _PAD, st.integers(min_value=1, max_value=6))
@example([None, "", "\x00", "\ud800x\udfff", "😀😀"], "__", "_", 3)
@example([], "", "", 1)
@settings(max_examples=300, deadline=None)
def test_tile_windows_fold_match_per_segment_loops(texts, head, tail, n):
    segs = [head + (t if isinstance(t, str) else "") + tail for t in texts]
    cp, starts, lens = cps.tile(texts, head, tail)
    assert cp.dtype == np.uint32
    assert cp.tolist() == [ord(c) for seg in segs for c in seg]
    assert lens.tolist() == [len(seg) for seg in segs]
    assert starts.tolist() == [sum(map(len, segs[:i])) for i in range(len(segs))]
    for seg, s0, ln in zip(segs, starts, lens):
        assert cps.decode(cp[s0 : s0 + ln]) == seg
        assert cps.encode(seg).tolist() == [ord(c) for c in seg]

    idx, counts, bounds = cps.windows(starts, lens, n)
    want_idx, want_counts, want_bounds = [], [], []
    for s0, ln in zip(starts.tolist(), lens.tolist()):
        want_bounds.append(len(want_idx))
        w = [s0 + j for j in range(ln - n + 1)]
        want_idx.extend(w)
        want_counts.append(len(w))
    assert idx.tolist() == want_idx
    assert counts.tolist() == want_counts
    assert bounds.tolist() == want_bounds

    mod = cps.fold(cp, starts, lens, np.int64(0), cps.mod_step)
    fnv = cps.fold(cp, starts, lens, cps.FNV_OFFSET, cps.fnv1a_step)
    assert mod.dtype == np.int64 and fnv.dtype == np.uint64
    for seg, m, f in zip(segs, mod.tolist(), fnv.tolist()):
        acc_m, acc_f = 0, int(cps.FNV_OFFSET)
        for c in seg:
            acc_m = (acc_m * 31 + ord(c)) % cps.FOLD_MOD
            acc_f = ((acc_f ^ ord(c)) * int(cps.FNV_PRIME)) & _MASK64
        assert (m, f) == (acc_m, acc_f)

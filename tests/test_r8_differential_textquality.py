"""Property-based DIFFERENTIAL tests for the rule-based TEXT-QUALITY
surface — the full Gopher repetition battery, the C4 line filter, and
the Gopher rule battery vs independent python replays over adversarial
random documents (duplicate-heavy lines, punctuation-edge words,
blocklist substrings, whitespace variants, empty docs).

The catalog oracles pin these operators on the fixed corpus; here the
inputs are drawn to sit ON the rule boundaries (exactly min words per
line, terminal-punct vs not, symbol tokens, stopword counts around the
threshold). Replays use exact integer arithmetic and
``Decimal(...).quantize(ROUND_HALF_UP)`` where the operator rounds —
Spark's round() is HALF_UP, python's builtin is banker's, and that
difference is exactly the kind of bug this suite exists to catch.
Deterministic (derandomize=True).
"""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given
from hypothesis import strategies as st

from tests.test_r8_differential import _SETTINGS

_WORDS = ["the", "fox", "ab", "#", "see...", "x1", "Zz", "of", "..."]
_LINE_POOL = [
    "the fox sees the end.",       # 5 words, terminal punct
    "the fox sees the end",        # 5 words, NO terminal punct
    "tiny line.",                  # under min words
    "a javascript line that ends properly.",   # blocklisted
    "braces { inside this long line. }",       # blocklisted
    "the quick brown fox jumps high!",
    "",
    "   ",
]


@st.composite
def doc(draw, pool, max_lines=6):
    return "\n".join(
        draw(st.lists(st.sampled_from(pool), min_size=0,
                      max_size=max_lines))
    )


@_SETTINGS
@given(texts=st.lists(doc(_LINE_POOL), min_size=0, max_size=5))
def test_gopher_repetition_matches_python_replay(spark_session, texts):
    from knime_core_columnar_spark.operators.text import gopher_repetition

    df = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(df, top_ns=(2, 3),
                                   dup_ns=(2, 5)).collect()
    }

    for doc_id, text in enumerate(texts):
        lines = [ln.strip(" ") for ln in text.split("\n")]
        lines = [ln for ln in lines if ln != ""]
        lc = Counter(lines)
        n_lines = sum(lc.values())
        line_chars = sum(c * len(v) for v, c in lc.items())
        dup_cnt = sum(c - 1 for c in lc.values())
        dup_chars = sum((c - 1) * len(v) for v, c in lc.items())
        toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
        norm_len = max(len(" ".join(toks)), 1)
        want = {
            "doc_id": doc_id,
            "dup_line_frac": dup_cnt / max(n_lines, 1),
            "dup_line_char_frac": dup_chars / max(line_chars, 1),
        }
        for n in (2, 3):
            grams = Counter(
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)
            ) if len(toks) >= n else Counter()
            want[f"top_{n}gram_char_frac"] = (
                max((c * len(g) for g, c in grams.items()), default=0)
                / norm_len
            )
        for n in (2, 5):
            grams = Counter(
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)
            ) if len(toks) >= n else Counter()
            want[f"dup_{n}gram_char_frac"] = (
                sum((c - 1) * len(g) for g, c in grams.items() if c > 1)
                / norm_len
            )
        assert got[doc_id] == want, (doc_id, text)


@_SETTINGS
@given(texts=st.lists(doc(_LINE_POOL), min_size=0, max_size=5))
def test_c4_line_filter_matches_python_replay(spark_session, texts):
    from knime_core_columnar_spark.operators.text import c4_line_filter

    df = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in c4_line_filter(
            df, min_words_per_line=5, require_terminal_punct=True,
            min_kept_lines=2,
        ).select("doc_id", "n_lines", "n_kept_lines", "clean_text",
                 "keep").collect()
    }

    for doc_id, text in enumerate(texts):
        lines = [ln.strip(" ") for ln in text.split("\n")]
        lines = [ln for ln in lines if ln != ""]
        kept = [
            ln for ln in lines
            if len([w for w in re.split(r"\s+", ln) if w != ""]) >= 5
            and re.search(r"[.!?\"']$", ln)
            and "javascript" not in ln.lower()
            and "{" not in ln.lower()
        ]
        want = {
            "doc_id": doc_id,
            "n_lines": len(lines),
            "n_kept_lines": len(kept),
            "clean_text": "\n".join(kept),
            "keep": len(kept) >= 2 and "lorem ipsum" not in text.lower(),
        }
        assert got[doc_id] == want, (doc_id, text)


def _r6(x: float) -> float:
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"),
                                  rounding=ROUND_HALF_UP)
    )


@_SETTINGS
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12)
        .map(" ".join),
        min_size=0, max_size=5,
    )
)
def test_gopher_rules_matches_python_replay(spark_session, texts):
    from knime_core_columnar_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    df = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(
            df, min_words=3, max_words=8, min_mean_word_len=2.0,
            max_mean_word_len=4.0, max_symbol_ratio=0.2,
            min_alpha_ratio=0.5, min_stopwords=1,
        ).collect()
    }

    for doc_id, text in enumerate(texts):
        toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
        n = len(toks)
        nd = max(n, 1)
        mean_wl = sum(len(t) for t in toks) / nd
        sym = sum("#" in t or "..." in t or "…" in t for t in toks) / nd
        alpha = sum(bool(re.search("[A-Za-z]", t)) for t in toks) / nd
        stops = sum(t.lower() in GOPHER_STOPWORDS for t in toks)
        checks = [
            ("too_few_words", n < 3),
            ("too_many_words", n > 8),
            ("mean_word_len_low", mean_wl < 2.0),
            ("mean_word_len_high", mean_wl > 4.0),
            ("symbol_ratio_high", sym > 0.2),
            ("alpha_ratio_low", alpha < 0.5),
            ("too_few_stopwords", stops < 1),
        ]
        reasons = [name for name, bad in checks if bad]
        want = {
            "doc_id": doc_id,
            "n_words": n,
            "mean_word_len": _r6(mean_wl),
            "symbol_ratio": _r6(sym),
            "alpha_ratio": _r6(alpha),
            "n_stopwords": stops,
            "keep": not reasons,
            "fail_reasons": ",".join(reasons),
        }
        assert got[doc_id] == want, (doc_id, text)


_SENT_POOL = ["one two.", "three!", "um?", "no punct", "", "  ",
              "x. y.", 'quo"te.', "dots... end."]


@_SETTINGS
@given(parts=st.lists(st.sampled_from(_SENT_POOL), min_size=0,
                      max_size=6))
def test_split_sentences_matches_python_replay(spark_session, parts):
    """split_sentences ≡ the same two steps in python: mark every
    terminal-punct+spaces boundary, split, trim, drop empties,
    re-index. The pool stresses consecutive boundaries, ellipses
    (every '.' of '...' followed by space is a boundary), quotes, and
    whitespace-only fragments."""
    from knime_core_columnar_spark.operators.text import split_sentences

    text = " ".join(parts)
    df = spark_session.createDataFrame([(0, text)],
                                       "doc_id long, text string")
    got = sorted(
        (r["sent_idx"], r["sentence"])
        for r in split_sentences(df).collect()
    )
    marked = re.sub(r"([.!?]) +", "\\1\x01", text)
    sents = [s.strip(" ") for s in marked.split("\x01")]
    sents = [s for s in sents if s != ""]
    assert got == list(enumerate(sents)), text


@_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ae\u0301\u0308n\ufb01\uff11 .", min_size=0,
                max_size=10),
        min_size=0, max_size=6,
    )
)
def test_normalize_unicode_matches_python_replay(spark_session, texts):
    """normalize_unicode(NFC/NFKC) ≡ python unicodedata directly on
    random combining-mark / ligature / full-width soup — including
    stacked combining marks and marks with no base character."""
    import unicodedata

    from knime_core_columnar_spark.operators.text import normalize_unicode

    df = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for form in ("NFC", "NFKC"):
        got = {
            r["doc_id"]: (r["norm_text"], r["changed"])
            for r in normalize_unicode(df, form=form).collect()
        }
        for i, t in enumerate(texts):
            want = unicodedata.normalize(form, t)
            assert got[i] == (want, want != t), (form, t)

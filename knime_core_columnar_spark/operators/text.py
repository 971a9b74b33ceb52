"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language identification, fingerprinting,
shingling.

Most operators here are pure Catalyst column expressions (JVM-side,
codegen, no Python in the hot path) so they run at 100 TB without
serialization overhead. The few with per-row work that array algebra
does badly (``gopher_repetition``, ``span_corruption_masks``,
``normalize_unicode``) run as one Arrow-batched Python pass each. The
expression builders return Columns and are shared by the
dedup operators (same shingle/hash definitions on both sides of the
LSH pipeline).

Hash convention (shared with dedup.py and the DuckDB oracles): a keyed
32-bit hash derived from md5 — ``hash_k(s) = int(md5(k || '_' || s)[:8], 16)``
— chosen because md5 is bit-identical across engines, making every
operator in this family differentially testable."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.session import checkpoint


#: Tiny per-language stopword marker sets for the n-gram/stopword-voting
#: language heuristic. Deliberately small + SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "y", "es"],
}

_PUNCT_RE = r"[.,;:!?'\"()\[\]{}-]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the baseline tokenizer; BPE-ish regex
    splitting below). Empty tokens are dropped: Spark's ``trim`` strips
    SPACES only, so text with leading/trailing newlines/tabs would
    otherwise grow a phantom '' token that inflates every token-derived
    metric (caught by the text-quality differential fuzz on
    trailing-newline docs; the fixed gate corpus never produces one, so
    all oracles are unaffected). Cross-engine equivalent:
    ``list_filter(string_split_regex(trim(s), '\\s+'), x -> x <> '')``.
    Empty / whitespace-only text yields an EMPTY array (token count 0,
    not 1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def let_col(value: Column, body) -> Column:
    """Bind ``value`` once per row and reference it many times. Spark
    has no let-expression, but ``transform`` evaluates its collection
    argument exactly once per row and binds it to a lambda variable —
    so wrapping the value in a one-element array gives let semantics.

    Essential whenever a higher-order function's LAMBDA references a
    computed expression: HOF lambdas evaluate interpreted, per ELEMENT,
    with no cross-element subexpression elimination, so a captured
    ``split()`` re-tokenizes the document at every element — measured
    7× slower on word n-grams, 2.7× on duplicate-span grams. Wrapped
    in a bound variable the expression computes once and every
    reference is an O(1) variable read.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries — a cheap proxy for BPE token counts
    when budgeting LLM training data."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_replace(c, r"([0-9]+|[^\sA-Za-z0-9])", r" $1 ")
    return F.size(
        F.filter(F.split(F.trim(pieces), r"\s+"), lambda x: x != "")
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, _PUNCT_RE, "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.length(c)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are common stopwords — a classic quality
    signal (too low → word salad / non-text)."""
    sw = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    # greatest(size, 1): tokens() drops empty tokens, so an empty /
    # whitespace-only doc has size 0 — score it 0.0, not NULL (same
    # guard gopher_repetition uses)
    return let_col(
        tokens(col),
        lambda t: F.size(
            F.filter(t, lambda x: F.array_contains(sw, F.lower(x)))
        ).cast("double")
        / F.greatest(F.size(t), F.lit(1)),
    )


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.4·length-band + 0.3·(1 − punct-excess) + 0.3·mean-token-length-band.
    Deterministic per-row double arithmetic (differentially testable)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    ntok = token_count(c).cast("double")
    len_band = F.when(n < 20, n / 20.0).when(n > 4000, F.lit(0.5)).otherwise(F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    mean_tok = n / ntok
    tok_band = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), 1.0).otherwise(0.5)
    return len_band * 0.4 + punct_term * 0.3 + tok_band * 0.3


def lang_votes(col: Column | str, lang: str) -> Column:
    """Number of tokens matching ``lang``'s marker set."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))


def lang_id(col: Column | str) -> Column:
    """Stopword-voting language ID: the language with the most marker
    hits wins; ties and zero hits → 'und'. First-listed language wins
    ties (deterministic CASE order).

    Values are identical to the naive per-language ``lang_votes``
    CASE, but the evaluation is let-bound: the naive form duplicates
    every vote expression into ``greatest`` AND every WHEN clause, so
    the interpreted token filter ran O(L²) times per row (~30
    tokenizations/doc for 5 languages). Here the lowered token array
    binds once, the vote array binds once, and the CASE reads
    elements of the bound array."""
    return let_col(tokens(col), _lang_id_from_tokens)


def _lang_id_from_tokens(toks: Column) -> Column:
    """:func:`lang_id` over an already-bound token array — identical
    values to ``lang_id(col)`` when ``toks = tokens(col)``. Exists so a
    composed gate expression (``curation_gate_keep``) can share one
    token binding between the Gopher battery and the language vote
    instead of re-tokenizing the document."""
    langs = list(LANG_MARKERS)
    marker_sets = [
        F.array(*[F.lit(w) for w in LANG_MARKERS[lang]]) for lang in langs
    ]
    lowered = F.transform(toks, lambda x: F.lower(x))
    votes = let_col(
        lowered,
        lambda t: F.array(*[
            F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
            for sw in marker_sets
        ]),
    )

    def pick(v: Column) -> Column:
        best = F.array_max(v)
        expr = F.when(best == 0, "und")
        for i, lang in enumerate(langs):  # insertion order = tie-break
            expr = expr.when(F.element_at(v, i + 1) == best, lang)
        return expr.otherwise("und")

    return let_col(votes, pick)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over whitespace-normalized, lowercased
    text — the exact-dedup key (content hash, not identity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def keyed_hash32(key: Column, s: Column) -> Column:
    """Cross-engine 32-bit keyed hash: int(md5(key || '_' || s)[:8], 16).
    DuckDB equivalent: ('0x' || substring(md5(key||'_'||s),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(F.concat(key.cast("string"), F.lit("_"), s)), 1, 8), 16, 10).cast("long")


def ngrams_of(t: Column, n: int) -> Column:
    """Word n-grams of an ALREADY-materialized token array column —
    the shared builder behind :func:`word_ngrams`; pass a bound column
    reference when several n values read the same tokens (one split
    total instead of one per n). Guard: Spark's sequence(1, 0) yields
    a DESCENDING [1, 0] (auto step -1), whose 0 index then crashes
    slice — fewer than n tokens short-circuits to an empty array."""
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column | str, n: int) -> Column:
    """Word n-gram array (with duplicates). The token array is
    let-bound (``let_col``) so the per-position lambda reads a variable
    instead of re-tokenizing the document at every position (measured
    7×)."""
    return let_col(tokens(col), lambda t: ngrams_of(t, n))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (the MinHash input set). Array expression —
    no explode, no shuffle; duplicates removed so the shingle *set* is
    hashed."""
    return F.array_distinct(word_ngrams(col, n))


def chunk_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the 1→N expansion every context-window-bounded training pipeline
    needs. Pure Catalyst (sequence + explode + substring): chunk offsets
    are 0, step, 2·step, … < len with step = chunk_chars − overlap, so
    consecutive chunks share ``overlap`` characters. Empty docs produce
    one empty chunk (the row is never silently dropped)."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    c = F.col(text_col)
    offs = F.sequence(
        F.lit(0), F.greatest(F.length(c) - 1, F.lit(0)), F.lit(step)
    )
    return (
        df.select(id_col, text_col, F.explode(offs).alias("chunk_start"))
        .select(
            id_col,
            (F.col("chunk_start") / step).cast("int").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.substring(c, F.col("chunk_start") + 1, chunk_chars).alias("chunk_text"),
        )
    )


def repetition_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of all word n-grams
    taken by the single most frequent one (1.0 = the document is one
    phrase repeated; ~1/count = no repetition). Shape: per-row n-gram
    array (small, bounded by doc length) → explode → two aggregations —
    the explode+agg form that keeps the heavy counting in codegen
    (interpreted HOFs only build the per-row array). Documents with
    fewer than n tokens get ratio 0."""
    exploded = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("__gram")
    )
    per_gram = exploded.groupBy(id_col, "__gram").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.max("__c").alias("__max"), F.sum("__c").alias("__tot")
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.round(F.col("__max").cast("double") / F.col("__tot"), 6), F.lit(0.0)
            ).alias("rep_ratio"),
        )
    )


def _gopher_doc_stats(
    text,
    line_sep: str,
    top_ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
) -> dict:
    """Single-document Gopher repetition battery, the per-row worker
    of :func:`gopher_repetition`. Every fraction is one IEEE division
    of exact integers, and the integer counts follow the DuckDB
    oracle's contracts (trim strips 0x20 only like Spark's ``trim``;
    the token split uses ASCII ``\\s`` like Java regex; gram identity is
    the dense token-id sequence, injective to the joined gram string
    because tokens cannot contain whitespace; gram char length =
    Σ token lens + (n−1) separator spaces = length of the joined
    string)."""
    import re as _re
    from collections import Counter as _Counter

    import numpy as np

    ws = _re.compile(r"\s+", _re.ASCII)
    if not isinstance(text, str):
        text = ""
    lines = [ln.strip(" ") for ln in text.split(line_sep)]
    lines = [ln for ln in lines if ln != ""]
    lc = _Counter(lines)
    n_lines = len(lines)
    line_chars = sum(len(ln) for ln in lines)
    dup_cnt = n_lines - len(lc)
    dup_line_chars = sum((c - 1) * len(v) for v, c in lc.items() if c > 1)
    out = {
        "dup_line_frac": dup_cnt / max(n_lines, 1),
        "dup_line_char_frac": dup_line_chars / max(line_chars, 1),
    }
    toks = [t for t in ws.split(text.strip(" ")) if t != ""]
    L = len(toks)
    # Gram ids are assigned progressively in numpy, not as Counters of
    # token tuples (a tuple alloc + hash per position per n): the
    # n-gram id at position i is the dense-unique of the exact pair
    # (id of (n-1)-gram at i, token id at i+n-1) packed into one int64
    # — injective because both components are <= L < L+1, so gram
    # identity stays exact with no hashing.
    if L:
        tid_arr = np.unique(np.array(toks, dtype=object),
                            return_inverse=True)[1].astype(np.int64)
        tok_lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                               count=L)
        csum = np.concatenate(([0], np.cumsum(tok_lens)))
        norm_len = float(max(int(csum[L]) + max(L - 1, 0), 1))
    else:
        tid_arr = np.empty(0, dtype=np.int64)
        csum = np.zeros(1, dtype=np.int64)
        norm_len = 1.0
    top: dict[int, float] = {}
    dup: dict[int, float] = {}
    prev = tid_arr  # dense ids of (prev_n)-grams by start position
    prev_n = 1
    for n in sorted(set(top_ns) | set(dup_ns)):
        top_chars = 0
        dup_chars = 0
        if L >= n:
            # extend the (prev_n)-gram ids one level at a time up to n;
            # the final level also yields first-occurrence index and
            # count per unique n-gram in the same pass
            first = counts = None
            for m in range(prev_n + 1, n + 1):
                key = prev[: L - m + 1] * np.int64(L + 1) + tid_arr[m - 1:]
                if m == n:
                    _, first, prev, counts = np.unique(
                        key, return_index=True, return_inverse=True,
                        return_counts=True)
                else:
                    prev = np.unique(key, return_inverse=True)[1]
            prev_n = n
            if first is None:  # n == prev_n already (e.g. n == 1)
                _, first, counts = np.unique(
                    prev, return_index=True, return_counts=True)
            glen = csum[first + n] - csum[first] + (n - 1)
            cov = counts * glen
            top_chars = int(cov.max())
            d = counts > 1
            dup_chars = int(((counts[d] - 1) * glen[d]).sum())
        if n in top_ns:
            top[n] = top_chars / norm_len
        if n in dup_ns:
            dup[n] = dup_chars / norm_len
    for n in top_ns:
        out[f"top_{n}gram_char_frac"] = top[n]
    for n in dup_ns:
        out[f"dup_{n}gram_char_frac"] = dup[n]
    return out


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The full Gopher repetition battery (Rae et al. 2021 §A.1.2) —
    the within-document repetition signals beyond ``repetition_ratio``:

    - ``dup_line_frac``: fraction of (trimmed, non-empty) lines that
      are a repeat of an earlier identical line;
    - ``dup_line_char_frac``: fraction of line characters inside those
      repeats (beyond-first occurrences);
    - ``top_{n}gram_char_frac`` for each n in ``top_ns``: characters
      covered by the heaviest word n-gram (count × gram length, all
      occurrences) over the normalized text length — under count ties
      this takes the maximum char coverage, which is deterministic
      where "the most frequent n-gram" is not;
    - ``dup_{n}gram_char_frac`` for each n in ``dup_ns``: characters
      in beyond-first occurrences of repeated n-grams (overlapping
      occurrences each count — the standard published approximation).

    Fractions are single divisions of exact integers (bit-identical in
    any engine); documents with no lines / no n-grams, NULL text
    included, score 0.

    Scale shape: one Arrow-batched mapInPandas pass with zero
    exchanges — at 100 TB it parallelizes with the file splits, unlike
    the explode+groupBy shape (whose shuffle is corpus-token-sized for
    a per-document metric). Per document the kernel
    (:func:`_gopher_doc_stats`) counts token-id grams in O(L)."""
    from typing import Iterator as _Iterator

    id_type = df.schema[id_col].dataType.simpleString()
    cols = ", ".join(
        [f"`{id_col}` {id_type}", "dup_line_frac double",
         "dup_line_char_frac double"]
        + [f"top_{n}gram_char_frac double" for n in top_ns]
        + [f"dup_{n}gram_char_frac double" for n in dup_ns]
    )

    def battery(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                row = {id_col: did}
                row.update(
                    _gopher_doc_stats(text, line_sep, top_ns, dup_ns)
                )
                recs.append(row)
            yield pd.DataFrame.from_records(recs) if recs else pd.DataFrame(
                {c.split(" ")[0].strip("`"): [] for c in cols.split(", ")}
            )

    return df.select(id_col, text_col).mapInPandas(battery, cols)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` most distinctive terms per document by TF-IDF
    (tf * ln(N/df), rounded to 6 places; ties broken by term so the
    ranking is deterministic cross-engine). Returns
    (id, term, tf, df, tfidf).

    Plan shape: explode -> two hash aggregations (term frequency per doc,
    document frequency per term) -> broadcast of the 1-row corpus count
    and of the df side onto the tf side keyed by term -> per-doc top-k
    window (WindowGroupLimit pushes the rank filter into the sort).
    Everything is built-in expressions — no UDF in the path.
    """
    terms = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\W+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf")
    )


# ---------------------------------------------------------------------------
# PII / sensitive-term redaction
# ---------------------------------------------------------------------------

#: Regex rules for common PII classes. Patterns are restricted to the
#: syntax subset shared by Java regex (Spark) and RE2 (DuckDB oracles):
#: character classes, bounded repetition, alternation, \b word
#: boundaries — no backreferences or lookaround, so the exact same
#: pattern string runs on both engines.
PII_RULES: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def term_pattern(terms: list[str]) -> str:
    """Whole-word alternation pattern for a sensitive-term blocklist."""
    import re as _re

    return r"\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"


def redact(
    col: Column | str,
    rules: dict[str, str] | None = None,
    terms: list[str] | None = None,
    replacement: str = "[PII]",
) -> Column:
    """Redact PII regex matches and/or blocklisted terms from a text
    column — the scrubbing pass every training-data pipeline runs before
    tokenization. Rules apply in sorted-name order (deterministic), then
    the term blocklist; each application is a JVM-side
    ``regexp_replace`` (replaces ALL matches), so the whole redaction is
    one codegen'd projection — no Python, no shuffle, scan-shaped at
    any scale."""
    c = F.col(col) if isinstance(col, str) else col
    for name in sorted(rules or {}):
        c = F.regexp_replace(c, (rules or {})[name], replacement)
    if terms:
        c = F.regexp_replace(c, term_pattern(terms), replacement)
    return c


def match_count(col: Column | str, pattern: str) -> Column:
    """Number of matches of ``pattern`` (audit metric for redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(pattern)).cast("long")


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_threshold: int = 5,
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    cheap perplexity-style quality filter (a KenLM stand-in that needs
    no external model): train unigram frequencies on the corpus itself,
    then score each doc by its mean token log-probability. Gibberish,
    OCR noise, and wrong-language text score far below corpus-typical
    prose. Also counts tokens rarer than ``rare_threshold``.

    Determinism (the moment_stats trick, applied to logs): per-token
    log-probs are rounded to 6 decimals and SCALED TO INT64 *before*
    the per-doc sum, so the aggregation is exact integer math — immune
    to float summation order across partitions and engines. The only
    cross-engine float op is one ``ln`` on identical doubles.

    Accepted residual risk (documented, not guarded): JVM ``Math.log``
    and DuckDB's libm ``ln`` may differ by 1 ulp (~2e-15 relative). A
    per-token log-prob would have to land within that 1 ulp of an exact
    half-way point of the 1e-6 rounding grid for the two engines to
    round differently — probability ≈ 2e-9 per vocabulary entry, ~1e-4
    for a 100k-token vocabulary, and data-dependent, not
    parallelism-dependent. Coarser rounding only rescales, never
    removes, this boundary band, so we keep 6 decimals and accept it.

    Scale shape: token explode → one count agg for the vocabulary (maps
    partial-aggregate, vocab ≪ corpus) → corpus total from a separate
    NARROW scan (``sum(size(tokens))`` — no explode, no re-agg of the
    vocabulary) broadcast as one row → token⋈vocab join on the word
    (AQE broadcasts when the vocab is small) → per-doc integer sum.
    No windows, no driver collect.

    Output: ``id_col``, ``n_words``, ``n_rare``, ``avg_logprob``.
    """
    w = df.select(id_col, F.explode(tokens(text_col)).alias("__w"))
    vocab = w.groupBy("__w").agg(F.count(F.lit(1)).alias("__cnt"))
    total = df.agg(
        F.sum(F.size(tokens(text_col))).cast("double").alias("__tot")
    )
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "__w",
        "__cnt",
        F.round(
            F.round(F.log(F.col("__cnt").cast("double") / F.col("__tot")), 6)
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("__lp6"),
    )
    return (
        w.join(lp, "__w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum((F.col("__cnt") < rare_threshold).cast("int")).alias("n_rare"),
            F.round(
                F.sum("__lp6").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document — one
    step up from ``unigram_logprob`` in fluency sensitivity: word-salad
    text with plausible unigrams (keyword stuffing, shuffled sentences)
    scores low because its word TRANSITIONS are corpus-atypical.

    Model: add-alpha smoothed conditional
    ``ln((c(w1,w2) + α) / (c(w1·) + α·V))`` where ``c(w1·)`` is the
    bigram-context count (Σ_w2 c(w1,w2)) and ``V`` is the context
    vocabulary size (#distinct w1) — both derivable from the ONE bigram
    count table, so training is a single explode + aggregate; no second
    corpus pass for the vocabulary. α defaults to 0.5 (exactly
    representable in binary — no decimal-literal drift across engines).

    Determinism: same discipline as ``unigram_logprob`` — per-bigram
    log-probs rounded to 6 decimals then scaled to int64 BEFORE the
    per-doc sum (exact integer aggregation, immune to float order); the
    same 1-ulp ``ln`` boundary risk is accepted and documented there.

    Scale shape: ``zip_with`` bigram explode (codegen) → one count
    aggregation (bigram vocab ≪ corpus) → context totals and V re-
    aggregated FROM the count table (bigram-vocab-sized jobs) → token⋈
    model join (AQE broadcasts small models) → per-doc integer sum. No
    windows, no driver collect.

    Output: ``id_col``, ``n_bigrams``, ``avg_bigram_logprob``. Docs
    with fewer than 2 tokens have no bigrams and are absent.
    """
    toks = tokens(text_col)
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    rows = df.select(
        id_col, F.explode(bi).alias("__p")
    ).select(id_col, F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
    # materialize the count table once (the kn_bigram/collocations
    # discipline) — it feeds the context totals AND the model join, and
    # exchange reuse does not fire across the differently-shaped
    # consumers
    c12 = checkpoint(
        rows.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c12"))
    )
    c1 = c12.groupBy("__w1").agg(F.sum("__c12").alias("__c1"))
    v = c1.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    model = (
        c12.join(c1, "__w1")
        .crossJoin(F.broadcast(v))
        .select(
            "__w1",
            "__w2",
            F.round(
                F.round(
                    F.log(
                        (F.col("__c12").cast("double") + F.lit(alpha))
                        / (F.col("__c1").cast("double") + F.lit(alpha) * F.col("__V"))
                    ),
                    6,
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("__lp6"),
        )
    )
    return (
        rows.join(model, ["__w1", "__w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("__lp6").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("avg_bigram_logprob"),
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    id_col: str = "token_id",
) -> DataFrame:
    """Distributed vocabulary construction (the tokenizer-training
    primitive): corpus token frequencies, filtered to ``min_count``,
    with dense contiguous ids assigned by (count DESC, token ASC) —
    the conventional frequency-ranked id space, deterministic across
    runs and engines.

    Scale shape: one partial-aggregated count (vocab ≪ corpus), then
    ids from ``sampling.global_index`` (range-partitioned sort +
    per-partition offsets) — NOT a global single-task row_number
    window, so id assignment distributes even for 10⁸-entry
    vocabularies."""
    from knime_core_columnar_spark.operators.sampling import global_index

    vocab = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    return global_index(
        vocab, [F.col("count").desc(), F.col("token")], id_col
    ).select("token", "count", id_col)


# ---------------------------------------------------------------------------
# Rule-based document quality filters (Gopher / C4 families)
# ---------------------------------------------------------------------------

#: Rule names emitted by :func:`gopher_rules`, in the order they are
#: evaluated. Shared with the DuckDB oracle so the reasons arrays are
#: bit-identical across engines.
GOPHER_RULE_NAMES = (
    "too_few_words",
    "too_many_words",
    "mean_word_len_low",
    "mean_word_len_high",
    "symbol_ratio_high",
    "alpha_ratio_low",
    "too_few_stopwords",
)

#: The Gopher paper's stopword-presence marker set (Rae et al. 2021,
#: table A1 uses a small English function-word list).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
    append: bool = False,
) -> DataFrame:
    """Gopher-style rule battery (Rae et al. 2021 §A.1.1): word count
    bounds, mean word length bounds, symbol-to-word ratio (# and
    ellipsis), fraction of words containing an alphabetic character,
    and stopword presence. Unlike a scalar ``quality_score``, every
    rule's verdict is exposed: per-rule metrics, a ``keep`` flag, and a
    ``fail_reasons`` array naming the violated rules (evaluation order
    of :data:`GOPHER_RULE_NAMES`) — the audit trail curation pipelines
    need to tune thresholds corpus-by-corpus.

    Scale shape: one scan, all rules are Catalyst array/string
    expressions over the token array (no explode, no shuffle, no
    Python) — the filter fuses into whole-stage codegen and runs at
    scan speed on 100 TB. Complements the reference's row-filter
    surface (``ColumnarVirtualTable.java:254-257``) the same way the
    other text filters do: an n-ary predicate over selected columns,
    expressed declaratively.

    ``append=True`` keeps EVERY input column alongside the rule
    outputs (raising on a name clash) so gate chains — the curation
    funnels — compose on one scan with zero joins instead of
    re-reading the corpus per gate."""
    orig_cols = list(df.columns)
    # materialize the token array once: each HOF call site below would
    # otherwise re-evaluate filter(split(...)) per row (6 tokenizations
    # per document — HOFs run interpreted, outside codegen CSE)
    df = df.select(
        "*",
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("__toks"),
    )
    toks = F.col("__toks")
    # char-sum is also materialized: mean_wl is referenced by two rule
    # checks plus the output column, and each reference would re-run
    # the O(tokens) interpreted aggregate
    df = df.select(
        "*",
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("__charsum"),
    )
    n_words = F.size(toks)
    n_wordsd = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.col("__charsum").cast("double") / n_wordsd
    # "ellipsis" covers both the ASCII three-dot sequence and the
    # typographic U+2026 character (Gopher counts either form)
    n_symbol = F.size(
        F.filter(
            toks,
            lambda x: x.contains("#") | x.contains("...") | x.contains("…"),
        )
    )
    symbol_ratio = n_symbol.cast("double") / n_wordsd
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = n_alpha.cast("double") / n_wordsd
    n_stop = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS))
    )
    checks = [
        ("too_few_words", n_words < min_words),
        ("too_many_words", n_words > max_words),
        ("mean_word_len_low", mean_wl < min_mean_word_len),
        ("mean_word_len_high", mean_wl > max_mean_word_len),
        ("symbol_ratio_high", symbol_ratio > max_symbol_ratio),
        ("alpha_ratio_low", alpha_ratio < min_alpha_ratio),
        ("too_few_stopwords", n_stop < min_stopwords),
    ]
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in checks]
        ),
        lambda x: x.isNotNull(),
    )
    outputs = [
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("fail_reasons"),
    ]
    if append:
        clash = set(orig_cols) & {
            "n_words", "mean_word_len", "symbol_ratio", "alpha_ratio",
            "n_stopwords", "keep", "fail_reasons",
        }
        if clash:
            raise ValueError(
                f"gopher_rules(append=True): input columns {sorted(clash)} "
                "clash with the rule outputs — rename them first"
            )
        return df.select(*orig_cols, *outputs)
    return df.select(F.col(id_col), *outputs)


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    require_terminal_punct: bool = True,
    min_kept_lines: int = 3,
    drop_substrings: tuple[str, ...] = ("javascript", "{"),
    drop_doc_substrings: tuple[str, ...] = ("lorem ipsum",),
    append: bool = False,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): split the
    document into lines, keep only lines that end in terminal
    punctuation, have at least ``min_words_per_line`` words, and contain
    none of ``drop_substrings`` (case-insensitive); drop the whole
    document when fewer than ``min_kept_lines`` lines survive or when
    the document contains any of ``drop_doc_substrings``. Returns
    (id, n_lines, n_kept_lines, clean_text, keep) with ``clean_text``
    the kept lines re-joined by newline.

    Scale shape: pure Catalyst array expressions — ``split`` on newline,
    one ``filter`` lambda per line (string predicates only),
    ``array_join`` to rebuild. No explode, no shuffle, no Python: the
    cleaner is a row-local map that fuses into the scan, exactly the
    shape the reference's map operator prescribes for row-wise
    transforms (``ColumnarVirtualTable.java:447-451``).

    ``append=True`` keeps every input column alongside the outputs
    (raising on a name clash) — see ``gopher_rules``."""
    orig_cols = list(df.columns)
    lines = F.split(F.col(text_col), "\n")
    # NB: the lambda must be unary — F.trim itself has an optional second
    # parameter, and pyspark's HOF binding would pass the element INDEX
    # into it as the trim-character set.
    # Both line arrays are materialized: trimmed_nonempty and kept are
    # each referenced by multiple output columns, and every reference
    # re-evaluates the whole interpreted line pipeline per row.
    df = df.select(
        "*",
        F.filter(
            F.transform(lines, lambda x: F.trim(x)), lambda x: x != ""
        ).alias("__tn"),
    )
    trimmed_nonempty = F.col("__tn")

    def _line_ok(x: Column) -> Column:
        cond = F.size(F.filter(F.split(x, r"\s+"), lambda w: w != "")) >= min_words_per_line
        if require_terminal_punct:
            cond = cond & x.rlike("[.!?\"']$")
        for s in drop_substrings:
            cond = cond & ~F.lower(x).contains(s.lower())
        return cond

    df = df.select("*", F.filter(trimmed_nonempty, _line_ok).alias("__kept"))
    kept = F.col("__kept")
    doc_ok = F.size(kept) >= min_kept_lines
    for s in drop_doc_substrings:
        doc_ok = doc_ok & ~F.lower(F.col(text_col)).contains(s.lower())
    outputs = [
        F.size(trimmed_nonempty).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        doc_ok.alias("keep"),
    ]
    if append:
        clash = set(orig_cols) & {"n_lines", "n_kept_lines",
                                  "clean_text", "keep"}
        if clash:
            raise ValueError(
                f"c4_line_filter(append=True): input columns "
                f"{sorted(clash)} clash with the outputs — rename first"
            )
        return df.select(*orig_cols, *outputs)
    return df.select(F.col(id_col), *outputs)


# UTF-8-read-as-Latin-1 double-decode artifacts: explicit list of the
# most common sequences ("Ã©" renders as the mojibake form of
# e-acute, "â" as the mojibake right single quote, and
# "Â " as the mojibake non-breaking space). Shared with the
# DuckDB oracle (catalog interpolates it into the SQL), so both engines
# count the identical matches. RE2-safe: plain alternation, no classes.
MOJIBAKE_PATTERN = (
    # \u00c3-led pairs: e-acute, e-grave, u-uml, n-tilde, a-uml, o-uml
    "(\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00bc|\u00c3\u00b1"
    "|\u00c3\u00a4|\u00c3\u00b6"
    # \u00e2\u20ac-led triples: curly quotes and dashes
    "|\u00e2\u20ac\u2122|\u00e2\u20ac\u0153|\u00e2\u20ac\u009d"
    "|\u00e2\u20ac\u201c|\u00e2\u20ac\u201d"
    # \u00c2 + NBSP
    "|\u00c2\u00a0)"
)
CONTROL_PATTERN = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
REPLACEMENT_CHAR = "\ufffd"


def mojibake_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encoding-damage audit — the ftfy-style pre-pass of web-corpus
    cleaning, as detection (counts per document) rather than repair:

    - ``n_mojibake``: occurrences of the classic UTF-8-read-as-Latin-1
      double-decode artifacts (``MOJIBAKE_PATTERN``: e-acute, u-umlaut,
      curly quotes, dashes, NBSP in their double-decoded two/three-char
      forms). An explicit-sequence list, so a genuine occurrence of one
      of these exact sequences in clean text is the only false-positive
      mode — far rarer than lead-byte heuristics.
    - ``n_replacement``: U+FFFD replacement characters — bytes already
      lost upstream.
    - ``n_control``: C0 control characters other than tab/newline/CR,
      plus DEL — binary junk inside text columns.

    ``clean`` is true when all three are zero. Pure Catalyst
    ``regexp_count`` with RE2-safe patterns (plain alternation, hex
    classes, no lookaround), so the audit runs at scan speed with zero
    exchanges and the DuckDB oracle (``len(regexp_extract_all)``)
    counts the identical matches.
    """
    t = F.col(text_col)
    moji = F.regexp_count(t, F.lit(MOJIBAKE_PATTERN))
    repl = F.regexp_count(t, F.lit(REPLACEMENT_CHAR))
    ctrl = F.regexp_count(t, F.lit(CONTROL_PATTERN))
    return df.select(
        F.col(id_col),
        moji.cast("long").alias("n_mojibake"),
        repl.cast("long").alias("n_replacement"),
        ctrl.cast("long").alias("n_control"),
        ((moji == 0) & (repl == 0) & (ctrl == 0)).alias("clean"),
    )


# Normalization classes (shared with the SQL oracle, like
# MOJIBAKE_PATTERN): zero-width/BOM characters vanish, typographic
# quotes/dashes unify to ASCII, NBSP becomes a space, whitespace runs
# collapse. Kept in \u escapes; RE2-safe plain classes.
ZERO_WIDTH_PATTERN = "[​‌‍﻿]"
SINGLE_QUOTE_PATTERN = "[‘’‚]"
DOUBLE_QUOTE_PATTERN = "[“”„]"
DASH_PATTERN = "[–—―]"
NBSP_PATTERN = " "


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Typographic normalization — the REPAIR counterpart of
    ``mojibake_audit``'s detection: zero-width characters and BOMs are
    stripped, curly single/double quotes unify to ASCII ' and ",
    en/em/horizontal-bar dashes to '-', NBSP to a plain space, and
    whitespace runs collapse to single spaces (trimmed). The order is
    fixed (strip invisibles → unify glyphs → collapse whitespace) so
    the SQL oracle replays the identical chain.

    Pure ``regexp_replace`` pipeline — scan-speed, zero exchanges, no
    Python. Returns (id_col, norm_text, changed); ``changed`` flags
    documents the normalization touched (the audit trail for sampling
    what the cleaner did)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.regexp_replace(t, ZERO_WIDTH_PATTERN, "")
    n = F.regexp_replace(n, SINGLE_QUOTE_PATTERN, "'")
    n = F.regexp_replace(n, DOUBLE_QUOTE_PATTERN, '"')
    n = F.regexp_replace(n, DASH_PATTERN, "-")
    n = F.regexp_replace(n, NBSP_PATTERN, " ")
    n = F.trim(F.regexp_replace(n, r"\s+", " "))
    return df.select(
        F.col(id_col),
        n.alias("norm_text"),
        (n != t).alias("changed"),
    )


#: Double-decode reversal map (shared with the SQL oracle): each entry
#: is (mojibake sequence, intended character) in \u escapes — the
#: inverse of the sequences MOJIBAKE_PATTERN detects.
MOJIBAKE_FIXES: list[tuple[str, str]] = [
    ("\u00c3\u00a9", "\u00e9"),  # e-acute
    ("\u00c3\u00a8", "\u00e8"),  # e-grave
    ("\u00c3\u00bc", "\u00fc"),  # u-umlaut
    ("\u00c3\u00b1", "\u00f1"),  # n-tilde
    ("\u00c3\u00a4", "\u00e4"),  # a-umlaut
    ("\u00c3\u00b6", "\u00f6"),  # o-umlaut
    ("\u00e2\u20ac\u2122", "\u2019"),  # right single quote
    ("\u00e2\u20ac\u0153", "\u201c"),  # left double quote
    ("\u00e2\u20ac\u009d", "\u201d"),  # right double quote
    ("\u00e2\u20ac\u201c", "\u2013"),  # en dash
    ("\u00e2\u20ac\u201d", "\u2014"),  # em dash
    ("\u00c2\u00a0", " "),  # double-decoded NBSP -> plain space
]


def fix_mojibake(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Double-decode REPAIR — the third member of the encoding trio
    (``mojibake_audit`` detects, ``normalize_text`` unifies typography,
    this reverses the damage): each UTF-8-read-as-Latin-1 artifact in
    :data:`MOJIBAKE_FIXES` is replaced by the character the author
    typed. Longer (3-char) sequences apply before 2-char ones so a
    2-char fix can never consume a 3-char artifact's lead bytes — the
    sorted order IS the application order, and the oracle replays the
    same ordered chain.

    Literal ``replace`` chain (no regex engine at all) — scan-speed,
    zero exchanges. Returns (id_col, fixed_text, chars_removed): every
    fix shrinks the text (2→1 or 3→1 chars), so the exact character
    shrinkage is the repair-volume audit number."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    fixed = t
    ordered = sorted(MOJIBAKE_FIXES, key=lambda p: -len(p[0]))
    for src, dst in ordered:
        fixed = F.replace(fixed, F.lit(src), F.lit(dst))
    return df.select(
        F.col(id_col),
        fixed.alias("fixed_text"),
        (F.length(t) - F.length(fixed)).cast("long").alias("chars_removed"),
    )


def normalize_unicode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonical first
    pass of multilingual corpus cleaning: visually identical strings
    with different codepoint sequences (composed é vs e+COMBINING
    ACUTE, compatibility ligatures, full-width forms) otherwise defeat
    exact dedup, shingle hashing, and vocabulary counting. Spark has no
    built-in normalizer, so this is an Arrow-batched pandas UDF over
    Python's unicodedata (the stdlib Unicode tables — same standard
    DuckDB's utf8proc ``nfc_normalize`` implements, which is the
    cross-engine oracle for the NFC form). Returns (id, norm_text,
    changed) — ``changed`` flags rows the normalization actually
    rewrote, the audit number.

    Scale shape: one batched UDF pass, row-local, no shuffle; the
    Python cost is unavoidable (no JVM normalizer in Spark SQL) but
    Arrow-vectorized and scan-parallel."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize(form, x)
            if x is not None
            else None
        )

    t = F.coalesce(F.col(text_col), F.lit(""))
    out = df.select(F.col(id_col), t.alias("__t")).select(
        id_col, "__t", _norm(F.col("__t")).alias("norm_text")
    )
    return out.select(
        id_col,
        "norm_text",
        (F.col("__t") != F.col("norm_text")).alias("changed"),
    )


def split_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rule-based sentence segmentation: a sentence boundary is a
    terminal punctuation mark ([.!?]) followed by whitespace. The
    1→N primitive under sentence-granular contamination checks, bitext
    alignment, and three-sentence-span dedup (C4 §2.2 operates on
    sentence spans). Deliberately regex-minimal — the marker rewrite
    ``([.!?]) +`` → ``$1\\x01`` then a literal split needs no
    lookahead, so the SAME two steps replay in RE2-based engines
    (DuckDB) where lookahead regexes cannot. Abbreviation handling
    ("Dr. Smith") is out of scope and documented: at corpus scale the
    downstream consumers (span hashing, containment) are robust to
    over-splitting.

    Pure Catalyst: regexp_replace + split + trim/filter + posexplode —
    row-local, zero exchanges, scan-fused. Returns (id, sent_idx,
    sentence) with 0-based ``sent_idx`` over the trimmed non-empty
    sentences in document order."""
    return df.select(
        F.col(id_col),
        F.posexplode(sentences_array(text_col)).alias(
            "sent_idx", "sentence"
        ),
    )


def sentences_array(text_col: str) -> Column:
    """The trimmed non-empty sentence array behind
    :func:`split_sentences` (shared with the sentence-span dedup)."""
    marked = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"([.!?]) +", "$1\x01"
    )
    return F.filter(
        F.transform(F.split(marked, "\x01"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def dedup_sentence_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_sentences: int = 3,
) -> DataFrame:
    """The literal C4 §2.2 span dedup (Raffel et al. 2020: "we removed
    all but one of any three-sentence span occurring more than once"):
    every window of ``span_sentences`` consecutive sentences is
    fingerprinted corpus-wide; the globally-first occurrence (minimum
    (``id_col``, position)) of each duplicated span survives, every
    other occurrence has its sentences deleted, and documents are
    reassembled from the surviving sentences. Completes the
    sub-document dedup family at sentence granularity
    (``dedup_paragraphs`` = separator-delimited blocks,
    ``segment_dedup`` = fixed word chunks, ``dup_span_*`` = exact
    token k-grams).

    Deterministic tie rule, documented: a losing occurrence's
    sentences are removed even where they overlap the winning
    occurrence inside the same document (repeated-sentence runs
    collapse toward the head). Documents with fewer than
    ``span_sentences`` sentences carry no spans and pass through
    verbatim (C4's rule only fires on full spans).

    Scale shape: sentence segmentation and span windows are row-local
    array work; what shuffles is (id, pos, 16-byte span hash) — winner
    election is a partially-aggregated ``min(struct(id, pos))`` per
    span hash (map-side combine absorbs the hottest boilerplate span,
    which on a web corpus occurs millions of times) followed by a
    hash-keyed equi-join back that AQE can skew-split — NOT a per-hash
    window, which would sort every copy of the hottest span in one
    task. Then one doc-keyed removal-set aggregation and one doc-keyed
    join back (removal sets are duplicate-span-sized, far below corpus
    size). No per-key windows, nothing driver-sized. Returns
    (id, n_sentences, n_removed, clean_text)."""
    if span_sentences < 1:
        raise ValueError("span_sentences must be >= 1")

    k = span_sentences
    base = df.select(
        F.col(id_col), sentences_array(text_col).alias("__sents")
    )
    spans = base.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("__sents") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("__sents") - (k - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice("__sents", i, k), "\x01")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "__h"),
    )
    winners = (
        spans.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__win"),
        )
        # singleton spans can never lose — dropping them here keeps the
        # join's build side duplicate-sized, not corpus-sized
        .filter(F.col("__c") >= 2)
        .select("__h", "__win")
    )
    losers = (
        spans.join(winners, "__h")
        .filter(
            ~(
                (F.col(f"__win.{id_col}") == F.col(id_col))
                & (F.col("__win.pos") == F.col("pos"))
            )
        )
        .select(
            id_col,
            # posexplode's pos is 0-based; sentence indices below are
            # 1-based — the losing span at pos covers sentences
            # pos+1 .. pos+k
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + k)
            ).alias("__cut"),
        )
    )
    cuts = losers.groupBy(id_col).agg(
        F.collect_set("__cut").alias("__cuts")
    )
    joined = base.join(cuts, id_col, "left").select(
        id_col,
        "__sents",
        F.coalesce(F.col("__cuts"), F.array().cast("array<int>")).alias(
            "__cuts"
        ),
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__sents"), F.lit(1))),
            lambda i: F.when(
                ~F.array_contains(F.col("__cuts"), i),
                F.element_at("__sents", i),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    return joined.select(
        id_col,
        F.size("__sents").cast("long").alias("n_sentences"),
        F.size("__cuts").cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def vocab_coverage_curve(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing audit: for each
    frequency threshold ``min_count`` (every distinct type frequency in
    the corpus), how many types occur at least that often and what
    fraction of all token OCCURRENCES they cover. Read bottom-up it
    answers "how large must the vocabulary be to cover 95% of the
    corpus" (BPE/unigram-LM vocab sizing, Sennrich et al. 2016 §5;
    same Zipf mechanics as the coverage tables in SentencePiece's
    docs). Ties (same frequency) enter together, which is the honest
    curve — a rank-based cut inside a tie class is arbitrary.

    Scale shape: one tokenization pass → ONE partially-aggregated
    (token) count table (vocab-sized after map-side combine) → one
    count-of-counts aggregation (|distinct frequencies| rows — by
    Zipf/Heaps O(√N_tokens), thousands at 100 TB) → a cumulative
    window over THAT table only. The single-partition window is
    bounded by the count-of-counts size, never corpus- or vocab-sized;
    the corpus total rides the same table (broadcast one-row
    cross join, the repo's bounded-crossJoin convention).

    Tokenization convention shared with :func:`vocab_growth_stats`
    (lower + ``\\W+`` split): DuckDB twin
    ``list_filter(string_split_regex(lower(trim(s)), '\\W+'), ...)``.

    Returns (min_count, n_types_cum, n_tokens_cum, coverage) sorted by
    min_count descending; coverage is one IEEE division of exact int64
    sums."""
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\W+")
        ).alias("__t")
    ).filter(F.col("__t") != "")
    counts = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    coc = (
        counts.groupBy("__c")
        .agg(F.count(F.lit(1)).alias("__n_types"))
        .withColumn("__n_toks", F.col("__c") * F.col("__n_types"))
    )
    total = coc.agg(F.sum("__n_toks").alias("__total"))
    w = Window.orderBy(F.col("__c").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        coc.crossJoin(F.broadcast(total))
        .select(
            F.col("__c").alias("min_count"),
            F.sum("__n_types").over(w).cast("long").alias("n_types_cum"),
            F.sum("__n_toks").over(w).cast("long").alias("n_tokens_cum"),
            (
                F.sum("__n_toks").over(w).cast("double")
                / F.col("__total").cast("double")
            ).alias("coverage"),
        )
    )


def _span_corruption_doc(doc_id, text, span_len: int, seed_every: int):
    """Single-document span-corruption kernel, the per-row worker of
    :func:`span_corruption_masks`, O(n) per doc. Same md5-60 arithmetic
    and island algebra as the DuckDB oracle."""
    import hashlib
    import re as _re

    toks = [
        t
        for t in _re.split(
            r"\s+", ("" if not isinstance(text, str) else text).strip(" "),
            flags=_re.ASCII,
        )
        if t
    ]
    n = len(toks)
    msk = [False] * n
    for i in range(1, n + 1):
        md = hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()
        if int(md[:15], 16) % seed_every == 0:
            for j in range(i - 1, min(i - 1 + span_len, n)):
                msk[j] = True
    inp, tgt, k = [], [], -1
    for i in range(n):
        if not msk[i]:
            inp.append(toks[i])
        else:
            if i == 0 or not msk[i - 1]:
                k += 1
                s = f"<extra_id_{k}>"
                inp.append(s)
                tgt.append(s)
            tgt.append(toks[i])
    return n, sum(msk), " ".join(inp), " ".join(tgt)


def span_corruption_masks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 3,
    seed_every: int = 20,
) -> DataFrame:
    """T5-style span-corruption training targets (Raffel et al. 2020
    §3.1.4 "replace corrupted spans with sentinel tokens"): a
    deterministic, seed-free hash decides which token positions START
    a corrupted span (position ``i`` seeds iff
    ``md5_60(doc_id:i) % seed_every == 0`` — expected corruption
    density = span_len/seed_every, the paper's 15% at the defaults),
    each seed masks ``span_len`` tokens, overlapping/adjacent masked
    ranges merge, and each merged island is replaced by one numbered
    sentinel. ``inputs`` carries the visible text with sentinels;
    ``targets`` carries each sentinel followed by the tokens it hides
    (the exact T5 target format).

    Determinism is the point: any engine (the DuckDB oracle replays
    the same md5 arithmetic) produces byte-identical training pairs,
    so a 100 TB corpus can be re-masked reproducibly without storing
    the masks.

    Scale shape: one Arrow-batched mapInPandas pass with zero
    exchanges, O(n) per document (:func:`_span_corruption_doc`).

    Returns (id_col, n_tokens, n_masked, inputs, targets); docs with
    no seeded position pass through with targets = ''."""
    if span_len < 1 or seed_every < 1:
        raise ValueError("span_len and seed_every must be >= 1")
    from typing import Iterator as _Iterator

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"`{id_col}` {id_type}, n_tokens long, n_masked long, "
              "inputs string, targets string")

    def run(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, ms, ins, tgs = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                n, m, i, t = _span_corruption_doc(
                    did, text, span_len, seed_every
                )
                ids.append(did); ns.append(n); ms.append(m)
                ins.append(i); tgs.append(t)
            yield pd.DataFrame({
                id_col: ids, "n_tokens": ns, "n_masked": ms,
                "inputs": ins, "targets": tgs,
            })

    return df.select(id_col, text_col).mapInPandas(run, schema)


def _para_lang_preds(text_col: Column | str, sep: str) -> Column:
    """Per-paragraph language predictions as array<string> — the shared
    expression under :func:`language_mix_audit` and
    :func:`language_mix_gate`. Split on ``sep``, trim, drop empties,
    tokenize each paragraph lowercased, stopword-vote per language;
    'und' when all votes are zero, ties in LANG_MARKERS order.

    The 4 vote counts are let-bound ONCE per paragraph: the tie CASE
    references every vote ~5× and an unbound reference re-runs its
    filter pass over the token array per read (~20 interpreted passes
    per paragraph; a filter on the audit's derived columns measured 13
    inlined copies of this whole pipeline without the binding)."""
    import re as _re

    langs = list(LANG_MARKERS)

    paras = F.filter(
        F.transform(
            F.split(F.coalesce(
                F.col(text_col) if isinstance(text_col, str) else text_col,
                F.lit("")), _re.escape(sep)),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )
    toks_per_para = F.transform(
        paras,
        lambda p: F.filter(
            F.split(F.lower(p), r"\s+"), lambda x: x != ""
        ),
    )

    def vote(t: Column, lang: str) -> Column:
        sw = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(t, lambda x: F.array_contains(sw, x)))

    def pred_of(t: Column) -> Column:
        def _pick(v: Column) -> Column:
            votes = [F.element_at(v, i + 1) for i in range(len(langs))]
            mx = F.greatest(*votes)
            expr = F.lit("und")
            # reverse order so earlier langs win ties (last when wins
            # in a chained otherwise; build right-to-left)
            for lg, vt in zip(reversed(langs), reversed(votes)):
                expr = F.when(vt == mx, F.lit(lg)).otherwise(expr)
            return F.when(mx == 0, F.lit("und")).otherwise(expr)

        return let_col(F.array(*[vote(t, lg) for lg in langs]), _pick)

    return F.transform(toks_per_para, pred_of)


def language_mix_gate(
    text_col: Column | str = "text",
    sep: str = "\n",
    majority: str = "en",
    max_switch_num: int = 1,
    max_switch_den: int = 4,
) -> Column:
    """Single-EXPRESSION monolingual gate: TRUE iff
    :func:`language_mix_audit` would report ``majority_lang ==
    majority`` and ``n_switch / n_lang_paras <= max_switch_num /
    max_switch_den`` (evaluated in exact integer arithmetic as
    ``den·n_switch <= num·n_lang_paras``; FALSE when no paragraph
    identifies). Same vote/tie rules, provably: majority_lang ==
    majority ⟺ n_lang > 0 ∧ count(majority) == max(counts) under the
    fixed tie order, and n_switch = n_lang − max(counts).

    Why an expression and not a filter on the audit's columns: Catalyst
    pushes a filter through the audit's projection by SUBSTITUTING the
    full per-column expressions into the predicate — a plan audit
    found 13 inlined copies of the whole tokenize+vote pipeline (391
    lambda nodes) evaluating per row, 1.2× SLOWER than the two-scan
    semi-join it replaced. Here the prediction array is let-bound once;
    every read inside the condition is an O(1) variable reference, so
    the pushed-down filter costs one audit evaluation per row (guide
    §2.4: remove the join; §1.2: then fix the per-row work)."""
    if majority not in LANG_MARKERS:
        raise ValueError(f"majority must be one of {list(LANG_MARKERS)}")

    def _cond(preds: Column) -> Column:
        def cnt(lg: str) -> Column:
            return F.size(F.filter(preds, lambda p: p == F.lit(lg)))

        langs = list(LANG_MARKERS)
        counts = {lg: cnt(lg) for lg in langs}
        mx = F.greatest(*counts.values())
        n_lang = F.size(F.filter(preds, lambda p: p != "und"))
        is_majority = counts[majority] == mx
        # earlier langs win ties: majority_lang == majority also needs
        # every earlier language to sit strictly below the maximum
        for lg in langs[: langs.index(majority)]:
            is_majority = is_majority & (counts[lg] < mx)
        return (
            (n_lang > 0)
            & is_majority
            & (max_switch_den * (n_lang - mx) <= max_switch_num * n_lang)
        )

    return let_col(_para_lang_preds(text_col, sep), _cond)


def language_mix_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Code-switching audit: per-PARAGRAPH language ID (the stopword-
    marker vote of :func:`lang_id` / text_quality_lang, applied at
    paragraph granularity) and the fraction of identified paragraphs
    that disagree with the document's majority language. Mixed-language
    documents — scraped pages with translated boilerplate, forum
    threads, wrongly-merged crawls — hurt monolingual training shards
    and evade DOCUMENT-level language ID, which sees only the majority;
    the standard fix is paragraph-level ID + a mixing threshold (e.g.
    CCNet, Wenzek et al. 2020 splits exactly this way).

    Vote rule per paragraph (identical to text_quality_lang, so the
    two audits can never disagree on a one-paragraph doc): count
    LANG_MARKERS stopword hits per language over lowercased whitespace
    tokens; 'und' when all four votes are zero; ties resolve in the
    fixed en>de>fr>es order. The document majority is the modal
    paragraph language (excluding 'und'; NULL when no paragraph
    identifies), ties in the same order.

    Scale shape: zero-exchange row-local array algebra — one paragraph
    split, one tokenization per paragraph (materialized once via a
    nested transform; the vote CASE re-reads the bound token array,
    never re-tokenizes). Returns (id_col, n_paras, n_lang_paras,
    majority_lang, n_switch, switch_frac[, *passthrough]).

    ``passthrough`` carries input columns (e.g. the text itself)
    through to the output unchanged, so a consumer that gates the
    corpus on audit columns can FILTER in the same scan instead of
    re-scanning the source and semi-joining back on id — one scan and
    zero exchanges instead of two scans and a join (guide §2.4)."""
    langs = list(LANG_MARKERS)  # insertion order = tie precedence

    mid = df.select(
        F.col(id_col),
        _para_lang_preds(text_col, sep).alias("__preds"),
        *[F.col(c) for c in passthrough],
    )
    preds = F.col("__preds")

    def _count_of(lg: str) -> Column:
        # NB: a `lambda p, lg=lg:` default-arg closure would be read by
        # PySpark's HOF binder as a TWO-argument (element, index)
        # lambda and silently bind lg to the array index — closure
        # factory instead
        return F.size(F.filter(preds, lambda p: p == F.lit(lg)))

    lang_counts = {lg: _count_of(lg) for lg in langs}
    n_lang = F.size(F.filter(preds, lambda p: p != "und"))
    mx_count = F.greatest(*lang_counts.values())
    maj = F.lit(None).cast("string")
    for lg in reversed(langs):
        maj = F.when(lang_counts[lg] == mx_count, F.lit(lg)).otherwise(maj)
    maj = F.when(n_lang > 0, maj)
    return mid.select(
        F.col(id_col),
        F.size(preds).cast("long").alias("n_paras"),
        n_lang.cast("long").alias("n_lang_paras"),
        maj.alias("majority_lang"),
        F.when(n_lang > 0, n_lang - mx_count)
        .otherwise(F.lit(0)).cast("long").alias("n_switch"),
        (
            F.when(n_lang > 0, (n_lang - mx_count).cast("double"))
            .otherwise(F.lit(0.0))
            / F.greatest(n_lang, F.lit(1)).cast("double")
        ).alias("switch_frac"),
        *[F.col(c) for c in passthrough],
    )


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    apply_mod: int = 2,
    prefix_tok: str = "<fim_prefix>",
    suffix_tok: str = "<fim_suffix>",
    middle_tok: str = "<fim_middle>",
) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022
    "Efficient Training of Language Models to Fill in the Middle"):
    a deterministic hash decides which documents are FIM-transformed
    (``md5_60(doc_id:fim) % apply_mod == 0`` — the paper's 50% FIM rate
    at the default), two hash-drawn cut points split the token sequence
    into prefix/middle/suffix, and the output is the PSM ordering
    ``<fim_prefix> P <fim_suffix> S <fim_middle> M``. Untransformed
    docs pass through whitespace-normalized with ``fim_applied=false``
    — the paper's key result is that mixing FIM and AR examples at the
    data level costs no AR capability.

    Deterministic like :func:`span_corruption_masks`: any engine
    reproduces byte-identical examples, so a 100 TB corpus re-shards
    and re-transforms reproducibly with no stored state.

    Cut points: c1 = h(doc:cut1) mod (n+1), c2 = h(doc:cut2) mod
    (n+1), ordered so c1 ≤ c2; prefix = tokens[1..c1], middle =
    tokens[c1+1..c2], suffix = tokens[c2+1..n] (any segment may be
    empty, including the whole-document-middle and empty-middle
    boundary cases — the paper keeps them).

    Scale shape: zero-exchange row-local array algebra — two hashes +
    three slices per document, O(n) with no per-position work, so it
    needs no Python kernel.

    Returns (id_col, n_tokens, fim_applied, c1, c2, output)."""
    if apply_mod < 1:
        raise ValueError("apply_mod must be >= 1")
    from knime_core_columnar_spark.operators.dedup import base_hash60

    def h(tag: str) -> Column:
        return base_hash60(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + tag))
        )

    toks = df.select(
        F.col(id_col),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__w"),
    )
    n = F.size("__w")
    applied = (h("fim") % apply_mod) == 0
    u = (h("cut1") % (n + 1)).cast("int")
    v = (h("cut2") % (n + 1)).cast("int")
    mid = toks.select(
        id_col, "__w",
        applied.alias("__a"),
        F.least(u, v).alias("__c1"),
        F.greatest(u, v).alias("__c2"),
    )
    w = F.col("__w")
    c1, c2 = F.col("__c1"), F.col("__c2")
    nn = F.size(w)
    part = lambda pos, length: F.array_join(  # noqa: E731
        F.slice(w, pos, length), " "
    )
    psm = F.concat_ws(
        " ",
        F.lit(prefix_tok), part(F.lit(1), c1),
        F.lit(suffix_tok), part(c2 + 1, nn - c2),
        F.lit(middle_tok), part(c1 + 1, c2 - c1),
    )
    # concat_ws skips NULLs but keeps empty strings — normalize the
    # double spaces empty segments leave behind so the output is a
    # clean single-spaced token stream in both engines
    psm_clean = F.array_join(
        F.filter(F.split(psm, " "), lambda x: x != ""), " "
    )
    return mid.select(
        F.col(id_col),
        nn.cast("long").alias("n_tokens"),
        F.col("__a").alias("fim_applied"),
        F.when(F.col("__a"), c1).cast("int").alias("c1"),
        F.when(F.col("__a"), c2).cast("int").alias("c2"),
        F.when(F.col("__a"), psm_clean)
        .otherwise(F.array_join(w, " "))
        .alias("output"),
    )


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` collocations (adjacent word pairs) by pointwise mutual
    information — the phrase-detection pass (word2phrase / Mikolov et
    al. 2013) that decides which bigrams deserve a single token
    ("new york", "machine learning") before tokenizer training.

    Model: PMI of the bigram joint distribution with its OWN marginals,
    ``ln(c12 · N₂ / (c_left(w1) · c_right(w2)))`` where N₂ = total
    bigram count and the marginals are row/column sums of the bigram
    count table — so training is ONE corpus pass (the bigram_logprob
    discipline: everything derives from the single count table).
    ``min_count`` suppresses unreliable rare pairs, exactly as
    word2phrase does.

    Determinism: counts are exact integers; PMI is one ln on identical
    doubles rounded to 6 decimals, ties broken by (w1, w2); the global
    top-k is orderBy+limit → TakeOrderedAndProject (per-partition
    heaps, no global sort).

    Returns (w1, w2, c12, c_left, c_right, pmi), k rows.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\W+"), lambda w: w != ""
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    rows = df.select(F.explode(bi).alias("__p")).select(
        F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    )
    # materialize the count table ONCE (the kn_bigram_logprob
    # discipline): c12 feeds four consumers (left and
    # right marginals, the N₂ total, the scored join) and the executed
    # plan showed ReusedExchange=0 — the corpus tokenize + bigram
    # explode + count shuffle ran FOUR times. The materialized frame is
    # vocabulary²-observed-sized (≪ corpus), the same budget the KN
    # model table already pays.
    c12 = checkpoint(
        rows.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    cl = c12.groupBy("w1").agg(F.sum("c12").alias("c_left"))
    cr = c12.groupBy("w2").agg(F.sum("c12").alias("c_right"))
    n2 = c12.agg(F.sum("c12").cast("double").alias("__n2"))
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(cl, "w1")
        .join(cr, "w2")
        .join(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            "c12",
            "c_left",
            "c_right",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("__n2")
                    / (
                        F.col("c_left").cast("double")
                        * F.col("c_right").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


def vocab_growth_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group vocabulary-growth audit: token volume, type (distinct
    token) count, hapax legomena count, and their ratios — the Heaps'-
    law health check that exposes templated/synthetic sources (types
    flatline while tokens grow ⇒ low type/token ratio) and OCR/noise
    sources (hapax share balloons: every error is a new "word").

    Scale shape: one ``\\W+``-lowercase tokenization pass → ONE
    partially-aggregated (group, token) count table (vocab-sized after
    the map-side combine, like unigram_logprob's model) → one group-
    level re-aggregation of that table. Token totals derive from the
    count table, so there is no second corpus scan. Ratios are IEEE
    divisions of exact int64 sums.

    Returns (group_col, n_tokens, n_types, n_hapax, type_token_ratio,
    hapax_share) — one row per group.
    """
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\W+")
        ).alias("__t"),
    ).filter(F.col("__t") != "")
    counts = toks.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__c"))
    return counts.groupBy("__g").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("n_hapax"),
    ).select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_share"),
    )


def kn_bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount_milli: int = 750,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language-model score per document
    — the smoothing the CCNet/KenLM-style perplexity filters actually
    use, one step past ``bigram_logprob``'s add-α: instead of giving
    unseen transitions a uniform floor, mass freed by absolute
    discounting is spread by CONTINUATION probability (how many
    distinct contexts a word follows), so "francisco" (frequent but
    only ever after "san") stops looking like a plausible continuation
    everywhere — the classic KN motivation.

    Model (Kneser & Ney 1995, interpolated form; D = discount_milli/1000):
      P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
               + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)
    where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    left contexts of w2, N1+(··) = distinct bigram types. EVERY count
    derives from the one bigram count table — training is a single
    explode + aggregate plus two vocabulary-sized re-aggregations.
    D = 0.75 default is exactly representable in binary.

    Determinism: the probability is assembled in one fixed-order double
    expression (identical text in the SQL oracle), then ln → round to 6
    places → scale to int64 BEFORE the per-doc sum — the
    ``unigram_logprob`` discipline (its documented 1-ulp ln boundary
    risk applies here too). P > 0 always: the continuation term is
    strictly positive for every observed w2, and only observed bigrams
    are scored (the join is the corpus's own transitions).

    Scale shape: bigram explode (codegen) → one count aggregation,
    MATERIALIZED once (``session.checkpoint`` — the four derived
    aggregates below would otherwise each replay the corpus explode:
    measured 15 parquet scans in the un-materialized plan, because
    exchange reuse does not fire across the AQE-replanned branches) →
    N1+ re-aggregations FROM that bigram-vocab-sized table → token⋈
    model join (AQE broadcasts small models) → per-doc integer sum. No
    windows, no driver collect. Corpus scans: exactly 2 (count-table
    build + the scoring join's token side).

    Output: ``id_col``, ``n_bigrams``, ``avg_kn_logprob``. Docs with
    fewer than 2 tokens have no bigrams and are absent.
    """
    d = discount_milli / 1000.0
    toks = tokens(text_col)
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    rows = df.select(
        id_col, F.explode(bi).alias("__p")
    ).select(id_col, F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
    c12 = checkpoint(
        rows.groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c12"))
    )
    # context totals + distinct-continuation counts, from the count table
    left = c12.groupBy("__w1").agg(
        F.sum("__c12").alias("__c1"),
        F.count(F.lit(1)).alias("__n1p_w1"),
    )
    right = c12.groupBy("__w2").agg(F.count(F.lit(1)).alias("__n1l_w2"))
    nb = c12.agg(F.count(F.lit(1)).cast("double").alias("__NB"))
    prob = (
        F.greatest(F.col("__c12").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("__c1").cast("double")
        + (F.lit(d) * F.col("__n1p_w1").cast("double") / F.col("__c1").cast("double"))
        * (F.col("__n1l_w2").cast("double") / F.col("__NB"))
    )
    model = (
        c12.join(left, "__w1")
        .join(right, "__w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "__w1",
            "__w2",
            F.round(F.round(F.log(prob), 6) * 1_000_000, 0)
            .cast("long")
            .alias("__lp6"),
        )
    )
    return (
        rows.join(model, ["__w1", "__w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("__lp6").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("avg_kn_logprob"),
        )
    )


def curation_gate_keep(
    text_col: Column | str,
    *,
    min_words: int = 20,
    max_words: int = 80,
    min_mean_word_len: float = 3.2,
    max_mean_word_len: float = 4.2,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 1,
    c4_min_words_per_line: int = 4,
    c4_require_terminal_punct: bool = True,
    c4_min_kept_lines: int = 2,
    c4_drop_substrings: tuple[str, ...] = ("javascript", "{"),
    c4_drop_doc_substrings: tuple[str, ...] = ("lorem ipsum",),
    lang: str = "en",
    newline_synthesis: tuple[str, str] | None = (" table ", ".\n"),
) -> Column:
    """The full curation gate (Gopher battery AND C4 doc keep AND
    language gate) as ONE let-bound boolean expression — value-for-value
    identical to ``curation_gate_fingerprints``'s flags
    ``__gk & __ck & __lk`` (each sub-predicate is the same expression
    tree the flag columns build, with the shared subterms bound).

    Why it exists: when the filtered gate is expressed as
    ``where(flag & ...)`` over the flag PROJECTIONS, Catalyst pushes the
    predicate through them by SUBSTITUTION — the pushed-down Filter
    re-tokenizes the document once per Gopher CASE branch (~8
    interpreted tokenizations/row on the base-corpus side of
    curation_funnel_delta). Binding the token array, char sum, and C4
    text inside one expression keeps the pushed-down predicate at ONE
    tokenization (+ one lowered copy for the language vote) per row
    wherever Catalyst moves it."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def with_toks(toks: Column) -> Column:
        def with_cs(cs: Column) -> Column:
            n_words = F.size(toks)
            n_wordsd = F.greatest(n_words, F.lit(1)).cast("double")
            mean_wl = cs.cast("double") / n_wordsd
            n_symbol = F.size(
                F.filter(
                    toks,
                    lambda x: x.contains("#") | x.contains("...")
                    | x.contains("…"),
                )
            )
            symbol_ratio = n_symbol.cast("double") / n_wordsd
            n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
            alpha_ratio = n_alpha.cast("double") / n_wordsd
            n_stop = F.size(
                F.filter(toks, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS))
            )
            checks = [
                ("too_few_words", n_words < min_words),
                ("too_many_words", n_words > max_words),
                ("mean_word_len_low", mean_wl < min_mean_word_len),
                ("mean_word_len_high", mean_wl > max_mean_word_len),
                ("symbol_ratio_high", symbol_ratio > max_symbol_ratio),
                ("alpha_ratio_low", alpha_ratio < min_alpha_ratio),
                ("too_few_stopwords", n_stop < min_stopwords),
            ]
            # EXACTLY gopher_rules' keep: no failed (non-null) check
            gk = (
                F.size(
                    F.filter(
                        F.array(
                            *[F.when(cond, F.lit(name))
                              for name, cond in checks]
                        ),
                        lambda x: x.isNotNull(),
                    )
                )
                == 0
            )
            return gk & (_lang_id_from_tokens(toks) == lang)

        return let_col(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ),
            with_cs,
        )

    gopher_and_lang = let_col(tokens(c), with_toks)

    ct_val = (
        F.replace(c, F.lit(newline_synthesis[0]), F.lit(newline_synthesis[1]))
        if newline_synthesis is not None
        else c
    )

    def line_ok(x: Column) -> Column:
        cond = (
            F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
            >= c4_min_words_per_line
        )
        if c4_require_terminal_punct:
            cond = cond & x.rlike("[.!?\"']$")
        for s in c4_drop_substrings:
            cond = cond & ~F.lower(x).contains(s.lower())
        return cond

    def with_ct(ct: Column) -> Column:
        kept = F.filter(
            F.filter(
                F.transform(F.split(ct, "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            ),
            line_ok,
        )
        ok = F.size(kept) >= c4_min_kept_lines
        for s in c4_drop_doc_substrings:
            ok = ok & ~F.lower(ct).contains(s.lower())
        return ok

    return gopher_and_lang & let_col(ct_val, with_ct)


def curation_gate_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 20,
    max_words: int = 80,
    min_mean_word_len: float = 3.2,
    max_mean_word_len: float = 4.2,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 1,
    c4_min_words_per_line: int = 4,
    c4_require_terminal_punct: bool = True,
    c4_min_kept_lines: int = 2,
    lang: str = "en",
    newline_synthesis: tuple[str, str] | None = (" table ", ".\n"),
    flags: bool = False,
) -> DataFrame:
    """(id, __fp) of the documents surviving the standard curation gate
    chain — Gopher rule battery → C4 line cleaning → language gate —
    with the content fingerprint exact-dedup keys on. With
    ``flags=True``, EVERY row comes back instead, carrying the
    per-gate verdicts (id, __gk, __ck, __lk, __fp) — the funnel
    censuses aggregate these conditionally. The SHARED stage of the
    funnel family: the batch census (catalog curation_funnel), the
    incremental delta audit (curation_funnel_delta), and the
    streaming admitter (streaming.ops.streaming_curation_admit) all
    call this one function, so the surfaces cannot drift apart.
    Defaults are the corpus-fitted parameters the registered funnel
    queries pin (see catalog.text); ``newline_synthesis``
    rewrites a marker to '.\\n' before the C4 pass because the
    synthetic corpus has no natural newlines — pass None for real
    corpora.

    Plan shape: the gates CHAIN on one frame via their ``append=True``
    mode — ONE corpus scan, zero joins, zero exchanges. Joining three
    separately-derived flag frames on the id would re-read the corpus
    per gate and shuffle corpus-sized flag tables at scale.

    The filtered (default) mode applies :func:`curation_gate_keep` —
    the SAME gate conjunction as one let-bound expression — directly on
    the input. Filtering on the flag projections lets Catalyst push the
    predicate down by substitution, and the pushed Filter re-tokenizes
    the document once per Gopher CASE branch (~8 interpreted
    tokenizations/row measured on curation_funnel_delta's base side);
    the bound form keeps it at one tokenization wherever the predicate
    lands."""
    if not flags:
        keep = curation_gate_keep(
            text_col,
            min_words=min_words, max_words=max_words,
            min_mean_word_len=min_mean_word_len,
            max_mean_word_len=max_mean_word_len,
            max_symbol_ratio=max_symbol_ratio,
            min_alpha_ratio=min_alpha_ratio, min_stopwords=min_stopwords,
            c4_min_words_per_line=c4_min_words_per_line,
            c4_require_terminal_punct=c4_require_terminal_punct,
            c4_min_kept_lines=c4_min_kept_lines,
            lang=lang, newline_synthesis=newline_synthesis,
        )
        fp = fingerprint(F.coalesce(F.col(text_col), F.lit("")))
        return (
            df.select(id_col, text_col)
            .where(keep)
            .select(id_col, fp.alias("__fp"))
        )
    t = gopher_rules(
        df.select(id_col, text_col), id_col, text_col,
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_ratio=min_alpha_ratio, min_stopwords=min_stopwords,
        append=True,
    ).select(id_col, text_col, F.col("keep").alias("__gk"))
    c4_text = text_col
    if newline_synthesis is not None:
        c4_text = "__c4_text"
        t = t.withColumn(
            c4_text,
            F.replace(F.col(text_col), F.lit(newline_synthesis[0]),
                      F.lit(newline_synthesis[1])),
        )
    t = c4_line_filter(
        t, id_col, c4_text,
        min_words_per_line=c4_min_words_per_line,
        require_terminal_punct=c4_require_terminal_punct,
        min_kept_lines=c4_min_kept_lines, append=True,
    ).select(id_col, text_col, "__gk", F.col("keep").alias("__ck"))
    fp = fingerprint(F.coalesce(F.col(text_col), F.lit("")))
    out = t.select(
        id_col, "__gk", "__ck",
        (lang_id(text_col) == lang).alias("__lk"),
        fp.alias("__fp"),
    )
    return out

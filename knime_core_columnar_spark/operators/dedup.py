"""Deduplication operators for training-data pipelines: exact content
dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard verification, and
embedding-cosine near-dup.

Scale design (the whole point at 100 TB):
- Signatures (MinHash, SimHash, fingerprints) are pure array/column
  expressions — computed in one narrow pass, no shuffle, no Python.
- Candidate generation is LSH band-bucketing: explode only the B band
  keys per doc (B ≈ 4-16, not the full shingle set), shuffle on the band
  key, join within buckets. Cost ∝ bucket sizes, not n².
- Exact verification (Jaccard) runs only on LSH candidates.
- Exact dedup is a single hash-groupBy keeping the min RowID
  (deterministic winner at any parallelism).

Hashes are the cross-engine md5 scheme from operators.text so every
stage is differentially testable against DuckDB."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.text import (
    fingerprint,
    keyed_hash32,
    let_col,
    tokens,
    word_ngrams,
    word_shingles,
)
from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.session import checkpoint
from knime_core_columnar_spark.table import ColumnarTable


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    normalize: bool = False,
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup with document reassembly — the
    sub-document dedup stage of C4 (Raffel et al. 2020 §2.2 removes
    repeated spans corpus-wide, keeping one occurrence) and RefinedWeb
    (Penedo et al. 2023 §3.3 line-wise exact dedup): whole-document
    dedup misses boilerplate paragraphs (navigation blocks, license
    footers, syndicated intros) repeated across otherwise-distinct
    pages.

    Splits each document on ``sep``, trims, drops empty paragraphs,
    keeps each distinct paragraph's FIRST occurrence in global
    (``id_col``, position) order, deletes every other copy, and
    reassembles the surviving paragraphs in original order. Returns
    (id, n_paras, n_kept, clean_text). Documents whose text yields no
    non-empty paragraph are absent from the result (nothing to keep —
    same contract as the shingle family for sub-``n``-token docs).
    ``normalize=True`` fingerprints the lowercased whitespace-collapsed
    paragraph (near-exact tier) while reassembly keeps original bytes.

    Scale shape: posexplode is row-local (parallelizes with the file
    splits); first-occurrence election is a partially-aggregated
    ``min(struct(id, pos))`` per 16-byte paragraph hash — map-side
    combine absorbs the boilerplate-paragraph hot key ("Share this
    post…" occurring billions of times collapses to one candidate per
    map task before the shuffle) — followed by a hash-keyed equi-join
    back, which AQE can skew-split; a per-hash row_number window would
    force every copy of the hottest paragraph into ONE task for a sort
    and AQE cannot split a window partition. Reassembly is one
    ``id_col`` shuffle with map-side partial aggregation. Nothing is
    corpus-sized on the driver."""
    import re as _re

    para = F.trim(F.col("__para_raw"))
    fp = fingerprint(para) if normalize else F.md5(para)
    rows = (
        df.select(
            F.col(id_col),
            # Spark's split() takes a REGEX; the operator contract is a
            # literal separator (DuckDB string_split semantics) — escape
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep))
            ).alias("__pos", "__para_raw"),
        )
        .select(
            id_col,
            F.col("__pos").alias("pos"),
            para.alias("para"),
            fp.alias("__fp"),
        )
        .filter(F.col("para") != "")
    )
    winners = rows.groupBy("__fp").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__win")
    )
    flagged = rows.join(winners, "__fp").withColumn(
        "__keep",
        (F.col(f"__win.{id_col}") == F.col(id_col))
        & (F.col("__win.pos") == F.col("pos")),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"), F.struct("pos", "para")
                        )
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("clean_text"),
    )


def exact_dedup(table: ColumnarTable, text_col: str = "text") -> ColumnarTable:
    """Content-hash dedup: keep the minimum-RowID row per normalized
    content fingerprint. One shuffle on the 16-byte hash (not the full
    text) — group keys stay small however large the documents are.

    Winner election is a partially-aggregated ``min(RowID)`` per hash +
    an equi-join back on (hash, RowID) — NOT a Window over the hash: on
    a web corpus the hottest full-document fingerprint (empty docs,
    error boilerplate) lands every copy in one task under a window
    partition, which AQE cannot split, while the groupBy's map-side
    combine absorbs the hot key and the join is AQE-skew-splittable
    (same election pattern as dedup_paragraphs, the distributed
    analogue of the reference's serial duplicate scan,
    ColumnarConcatenater.java:427-470)."""
    # null-safe key: md5(NULL) is NULL, and a null key never matches in
    # the equi-join — without the coalesce every NULL-text row VANISHES
    # instead of deduping to one survivor (the Window this replaced, and
    # the SQL oracle's PARTITION BY, both group NULLs)
    df = table.df.withColumn(
        "__fp", F.coalesce(fingerprint(text_col), F.lit("__NULL__"))
    )
    winners = df.groupBy("__fp").agg(F.min(ROW_KEY).alias(ROW_KEY))
    return ColumnarTable(
        df.join(winners, on=["__fp", ROW_KEY], how="leftsemi").drop("__fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: MinHash permutation family: h_i(s) = ((2i+1)·h0(s) + 104729·i) mod p
#: over the base hash h0(s) = md5_60(s) mod p. One md5 per shingle total
#: (a per-permutation keyed md5 costs num_perm× the hashing — measured
#: 12s → ~4s at 5k docs × 16 perms). p = 2^31−1 (prime) keeps products
#: within int64. Exact integer arithmetic ⇒ identical in any engine.
MINHASH_P = 2_147_483_647
MINHASH_B = 104_729


def base_hash60(s: Column) -> Column:
    """60-bit md5 prefix as a long — cross-engine:
    DuckDB ('0x' || substring(md5(s),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def perm_hash(h0: Column, i: int) -> Column:
    return ((2 * i + 1) * h0 + MINHASH_B * i) % MINHASH_P


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-grams as rows (id_col, __s) — the bulk shingle path:
    ``zip_with`` over n shifted slices of the token array, then one
    explode. ZERO shuffles before the optional distinct — the n-gram
    assembly is scan-side row-local work, so at 100 TB shingling
    parallelizes with the file splits and the only exchange is the
    dedup hash. (Two rejected shapes, both measured at sf0.1/260k
    shingles: posexplode + window-lead = same values but an extra
    pos-ordered shuffle of every token, 1.3× slower warm; transform
    with per-element ``element_at`` = interpreted lambda pathology, 7×
    slower. ``zip_with`` of pre-sliced arrays stays vectorized.)

    ``distinct=True`` gives SET semantics — required by every consumer
    that counts or collects shingles (Jaccard sizes, containment,
    novelty, boilerplate doc-frequencies). Pass ``distinct=False`` when
    the downstream aggregate is duplicate-idempotent (MinHash minima):
    the exploded rows then flow straight into the consumer's map-side
    partial aggregation with NO exchange at all — at 100 TB that drops
    a full (id, shingle-string) shuffle whose only effect was deduping
    rows a ``min`` would ignore anyway."""
    # materialize the token array first: HOFs evaluate interpreted, so
    # each slice() argument referencing the raw split() expression
    # would re-tokenize the row n times (once per zip_with level)
    tmp = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("__toks"),
    )
    toks = F.col("__toks")
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, width)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, k + 1, width),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    out = tmp.select(F.col(id_col), F.explode(acc).alias("__s"))
    return out.distinct() if distinct else out


def minhash_signature(text_col: Column | str, num_perm: int = 16, shingle_n: int = 3) -> Column:
    """MinHash signature as an array<long> of ``num_perm`` minima over the
    arithmetic permutation family. Pure expression form (interpreted HOF
    evaluation — fine per-row, use minhash_signature_table for bulk)."""
    sh = word_shingles(text_col, shingle_n)
    # let-bind the base-hash array: each of the num_perm array_min
    # consumers would otherwise re-evaluate the whole shingle+hash
    # pipeline (interpreted HOFs get no cross-reference CSE)
    return let_col(
        F.transform(sh, lambda s: base_hash60(s) % MINHASH_P),
        lambda h0s: F.array(*[
            F.array_min(
                F.transform(
                    h0s,
                    lambda h: ((2 * i + 1) * h + MINHASH_B * i) % MINHASH_P,
                )
            )
            for i in range(num_perm)
        ]),
    )


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: key_b = md5(b || '|' || sig[b·r .. b·r+r)).
    Docs sharing any band key are near-dup candidates (standard
    banding estimate: P(candidate) = 1-(1-j^r)^b)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat(
                b.cast("string"),
                F.lit("|"),
                F.array_join(F.slice(sig, b * rows_per_band + 1, rows_per_band), ","),
            )
        ),
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures at scale: explode shingles once, hash each
    (shingle, perm) in a flat vectorized projection, take per-perm minima
    in ONE hash aggregation on id_col. Identical values to
    ``minhash_signature`` (same hash family), but whole-stage-codegen
    friendly — Spark evaluates nested higher-order lambdas interpreted,
    which measured >100s for 5k docs where this shape takes seconds.
    Returns (id_col, h0..h{num_perm-1}).

    Production note: md5 is kept (not xxhash64) so every stage stays
    bit-checkable against a SQL oracle; swapping base_hash60 to
    F.xxhash64 is a one-line change where differential testing is not
    needed."""
    # distinct=False: duplicate shingles cannot change a min, so the
    # exploded rows feed the map-side partial aggregation directly —
    # the signature computation's ONLY exchange is the final one-row-
    # per-(doc, partition) combine (explode is row-local, so every
    # shingle of a doc is already in one partition).
    sh = shingle_rows(df, id_col, text_col, shingle_n, distinct=False)
    return _minhash_minima(sh, id_col, num_perm)


def _minhash_minima(shingles: DataFrame, key: str, num_perm: int) -> DataFrame:
    """(key, __s) shingle rows -> (key, h0..h{num_perm-1}): base hash,
    the per-permutation hashes in one flat projection, and their minima
    in ONE hash aggregation on ``key``."""
    base = shingles.select(key, (base_hash60(F.col("__s")) % MINHASH_P).alias("__h0"))
    hashed = base.select(
        key,
        *[perm_hash(F.col("__h0"), i).alias(f"h{i}") for i in range(num_perm)],
    )
    return hashed.groupBy(key).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_perm)]
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The STORABLE LSH index: (id_col, __b, __key) — ``bands`` rows per
    document, where __key is the md5 of that band's signature slice.
    This is the table an incremental pipeline persists (partitioned by
    __b, bucketed by __key): appending a new ingest batch's rows keeps
    the index current without touching old rows, and every LSH consumer
    (pair candidates, admission, clustering) is a join against it.
    """
    rows = num_perm // bands
    sig = minhash_signature_table(df, id_col, text_col, num_perm, shingle_n)
    band_structs = [
        F.struct(
            F.lit(b).alias("b"),
            F.md5(
                F.concat(
                    F.lit(f"{b}|"),
                    F.concat_ws(",", *[F.col(f"h{b * rows + r}") for r in range(rows)]),
                )
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("__c")
    ).select(id_col, F.col("__c.b").alias("__b"), F.col("__c.key").alias("__key"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Plan shape: explode shingles → vectorized per-perm hash mins (one
    aggregation) → B band keys per doc → shuffle on band key →
    in-bucket self-join → distinct pairs. The only shuffled payload is
    (id, band_key); document text never moves.

    The band table is checkpointed before the self-join: the executed
    plan shows ReusedExchange does NOT fire across the join's two sides
    (0 reuses, 2 parquet scans), so without it the signature pass
    (shingle explode + num_perm min-hash aggregation, the compute-heavy
    stage of the whole near-dup family) runs TWICE per call. The
    checkpoint materializes the (id, band, key) rows — exactly the
    index incremental_dedup_admit persists — once, and both join sides
    read it."""
    banded = checkpoint(minhash_band_table(
        df, id_col, text_col, num_perm, bands, shingle_n
    ))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def incremental_dedup_admit(
    batch: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-dup ADMISSION: decide for each new-batch document
    whether it collides with the EXISTING corpus, without re-reading or
    re-hashing the corpus. ``corpus_bands`` is the persisted
    ``minhash_band_table`` index (id, __b, __key); only its (__b, __key)
    pairs are consulted — corpus text never moves.

    This is the batch twin of the streaming admission operator
    (streaming/ops.py dedup admission): a 100 TB pipeline ingesting
    daily crawls computes signatures for the NEW batch only (O(batch)),
    then one join against the stored index. After admission, append the
    admitted docs' band rows to the index — the index stays current by
    append, never rebuild.

    Plan shape: batch → signature table (one agg) → ``bands`` key rows
    per doc → left join against the DISTINCT corpus (__b, __key) set →
    per-doc count of hit bands. With a small daily batch against a huge
    stored index, AQE broadcasts the batch side, so the corpus index is
    scanned once with NO shuffle of the corpus (and a Parquet index
    partitioned on __b prunes to the touched bands). No windows, no
    collect.

    Output: (id_col, n_hit_bands, admitted) — admitted = zero shared
    band keys. Same banding estimate as ``minhash_lsh_candidates``:
    P(flagged | Jaccard j) = 1-(1-j^r)^b.

    Documents shorter than ``shingle_n`` words produce no shingles and
    hence no band rows; they cannot collide with anything, so they are
    ADMITTED (n_hit_bands=0) via the final left join back to the batch
    ids rather than silently dropped. That join is batch-sized on both
    sides (ids only), so it adds no corpus-scale work.
    """
    batch_bands = minhash_band_table(
        batch, id_col, text_col, num_perm, bands, shingle_n
    )
    corpus_keys = (
        corpus_bands.select("__b", "__key").distinct().withColumn("__hit", F.lit(1))
    )
    hits = (
        batch_bands.join(corpus_keys, ["__b", "__key"], "left")
        .groupBy(id_col)
        .agg(F.count("__hit").alias("n_hit_bands"))
    )
    return (
        batch.select(id_col)
        .distinct()
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_bands"), F.lit(0).cast("long")).alias(
                "n_hit_bands"
            ),
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) == 0).alias("admitted"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification of LSH candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets.

    With ``candidates`` (the LSH output) the join is candidate-sized — the
    100 TB path. Without it, an inverted-index self-join on shingles
    (still sub-quadratic: only docs sharing a shingle meet)."""
    # join/intersect on 60-bit shingle hashes, not strings: smaller
    # shuffle keys and cheaper compares; at <2^30 distinct shingles the
    # collision probability is < 1e-9, and a collision would only merge
    # two shingles — results equal the string-keyed formulation
    src = df
    if candidates is not None:
        # Only candidate docs need their shingle sets materialized: a
        # semi-join pre-filter keeps the collect_list aggregation
        # candidate-sized instead of corpus-sized (at 100 TB the LSH
        # survivors are a small fraction of the corpus; Catalyst cannot
        # infer this restriction through the aggregate on its own).
        # The candidate frame is referenced three times below (id
        # filter + both verify joins) — the checkpoint computes the
        # (small, LSH-survivor-sized) pair set once instead of
        # re-running the whole candidate-generation subtree per
        # reference.
        candidates = checkpoint(candidates)
        ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        src = df.join(ids, id_col, "left_semi")
    rows = shingle_rows(src, id_col, text_col, shingle_n).select(
        F.col(id_col), base_hash60(F.col("__s")).alias("__h")
    )
    sh = rows.groupBy(id_col).agg(
        F.collect_list("__h").alias("__hs"), F.count(F.lit(1)).alias("__size")
    )
    if candidates is not None:
        pairs = (
            candidates.join(sh.select(F.col(id_col).alias("id_a"),
                                      F.col("__hs").alias("__hs_a"),
                                      F.col("__size").alias("size_a")), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"),
                            F.col("__hs").alias("__hs_b"),
                            F.col("__size").alias("size_b")), "id_b")
            .withColumn("inter", F.size(F.array_intersect("__hs_a", "__hs_b")))
        )
        out = pairs.select(
            "id_a", "id_b",
            (F.col("inter").cast("double")
             / (F.col("size_a") + F.col("size_b") - F.col("inter"))).alias("jaccard"),
        )
        return out.filter(F.col("jaccard") >= threshold)

    ex = rows.join(sh.select(id_col, "__size"), id_col).select(
        id_col, "__size", F.col("__h").alias("__s")
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.__s") == F.col("b.__s"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__size").alias("size_a"),
            F.col("b.__size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.select(
        "id_a", "id_b",
        (F.col("inter").cast("double")
         / (F.col("size_a") + F.col("size_b") - F.col("inter"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash signatures: token hash h(t) = md5-based 60-bit value; bit j
    of the signature is set iff Σ_tokens (±1 by bit j of h(t)) > 0.

    Shape: explode tokens → hash each token ONCE → ``bits`` vectorized
    conditional sums in a single hash aggregation on id_col → recombine
    bits. (A nested-lambda column formulation recomputes the md5 per bit
    — 32× the hashing — and builds an expression tree codegen chokes on:
    measured minutes vs seconds at 5k docs.) Returns (id_col, simhash).
    Docs with zero tokens are absent from the output (no tokens → no
    signature), matching set-based semantics."""
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("__tok"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    bit_aggs = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(bits)
    ]
    agged = tok.groupBy(id_col).agg(*bit_aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"__b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agged.select(F.col(id_col), sig.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    band_bits: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs. Scale path: band the signature into
    ``bits/band_bits`` chunks — two docs within ``max_hamming < bands``
    share at least one identical chunk (pigeonhole), so an equi-join per
    chunk finds all such pairs without n² comparisons."""
    sh = simhash_table(df, id_col, text_col, bits).withColumnRenamed("simhash", "__sim")
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    chunks = sh.select(
        id_col, "__sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("__sim"), b * band_bits)
                    .bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("__c"),
    ).select(id_col, "__sim", "__c.band", "__c.chunk")
    # same ReusedExchange gap as minhash_lsh_candidates — without the
    # checkpoint the per-token md5 signature pass runs twice (once per
    # self-join side; the executed plan shows 0 reuses, 2 scans).
    chunks = checkpoint(chunks)
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming_distance(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    compress_from: int = 3,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: returns (node, component)
    where component is the smallest node id reachable from ``node`` over
    the undirected edge set — the standard dedup step after pair
    verification (every document keeps min-id as its canonical
    representative).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; a round is one shuffled
    join + aggregation, and the loop stops when no label changes (or
    raises at ``max_iter`` — an un-converged run must never silently
    return partial labels, because downstream keep-min-id dedup would
    quietly treat one cluster as several). Typical near-dup clusters
    are a handful of documents, so this is 3-5 rounds in practice, each
    a bulk-synchronous Spark job (the same schedule GraphX/Pregel CC
    runs). Plain propagation needs diameter-many rounds, which is the
    100 TB hazard: chain-shaped duplicate clusters (A~B~C~… template
    drift) have large diameters. From round ``compress_from`` onward
    each round therefore also POINTER-DOUBLES (label := min(label,
    label[label]) — Shiloach-Vishkin path compression, one extra
    node-sized join per round), which makes convergence logarithmic in
    the diameter: a 64-chain converges in ~8 rounds instead of 63,
    and ``max_iter=20`` covers any physically possible diameter.
    Small-diameter graphs converge before ``compress_from`` and never
    pay for the extra join. A checkpoint truncates the lineage
    each round so the plan does not grow with the iteration count.
    """
    # materialize the symmetric edge list ONCE — the caller's edge
    # derivation may be an expensive subtree (LSH verify joins, blocked
    # Levenshtein), and every BSP round below joins against it plus
    # runs a convergence count: without this, each of the ~2·rounds
    # actions recomputes the whole derivation (measured 122 s → 40 s
    # for entity_resolution at sf0.1). Same discipline as
    # graph.pagerank_scaled's adj materialization.
    sym = checkpoint(edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ))
    # seed labels at min(node, min neighbor) — the node-distinct
    # pass was a groupBy on the same (src) shuffle anyway, so folding
    # min(dst) into it runs propagation round 1 for free: one fewer
    # BSP round (join + aggregate + checkpoint + probe) on every call.
    # Fixpoint unchanged — labels still only ever decrease toward the
    # component minimum along edges.
    labels = checkpoint(
        sym.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__mn")).alias("label"),
        )
    )
    changed = 0
    for rnd in range(max_iter):
        nbr = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the convergence count is the one driver action per superstep;
        # it also writes this round's checkpoint, whose full label
        # frame the count's filter cannot prune through the RDD
        # boundary.
        upd = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        )
        new_labels = checkpoint(
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                F.col("node"),
                upd.alias("__new"),
                (upd < F.col("label")).alias("__changed"),
            )
        )
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.select("node", F.col("__new").alias("label"))
        if changed == 0:
            break
        if rnd + 1 >= compress_from:
            # pointer doubling: label[v] := min(label[v], label[label[v]]).
            # label values are always node ids present in the labels
            # frame (they originate from the node column and only move
            # to other reachable node ids), so the hop is a node-sized
            # self-join; left+coalesce guards the root nodes whose
            # label is themselves. Labels stay within the component
            # (label[v] reachable from v, label[label[v]] reachable
            # from label[v]) and only decrease, so the propagate
            # fixpoint — all labels in a component equal to its min id
            # — is unchanged; compression only shortens the path to it.
            hop = labels.select(
                F.col("node").alias("__ln"), F.col("label").alias("__ll")
            )
            labels = checkpoint(
                labels.join(hop, labels["label"] == hop["__ln"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("__ll"), F.col("label")),
                    ).alias("label"),
                )
            )
    if changed > 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing). With pointer doubling "
            f"(compress_from={compress_from}) this needs a component "
            f"diameter past 2^{max_iter - compress_from} — check the edge "
            "list for corruption, or raise max_iter."
        )
    return labels.select("node", "label")


def ngram_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-corpus contamination check — the train/eval hygiene pass a
    training-data pipeline runs before benchmarking: for each eval
    document, the fraction of its distinct word n-grams that appear
    ANYWHERE in the training corpus.

    Scale shape: shingles become rows (codegen window path,
    ``shingle_rows``), then immediately collapse to 60-bit md5 hashes —
    the corpus-sized join shuffles (id, long) pairs against a
    distinct-hash build side, never the shingle strings themselves. The
    train side is a distinct long column (the natural broadcast
    candidate when the training corpus's distinct-shingle set is small;
    Spark/AQE picks the strategy). Output per eval doc: ``n_ngrams``,
    ``n_contaminated``, ``contamination`` in [0, 1]. Docs with fewer
    than ``n`` tokens have no shingles and are absent from the output.
    """
    tr = (
        shingle_rows(train_df, id_col, text_col, n)
        .select(base_hash60(F.col("__s")).alias("__h"))
        .distinct()
    )
    ev = (
        shingle_rows(eval_df, id_col, text_col, n)
        .select(id_col, base_hash60(F.col("__s")).alias("__h"))
        .distinct()
    )
    tot = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = ev.join(tr, "__h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        tot.join(hits, id_col, "left")
        .select(
            id_col,
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("contamination"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_doc_pct: int = 5,
) -> DataFrame:
    """Intra-corpus boilerplate detection — the C4/RefinedWeb-style pass
    that finds templated content (nav bars, license headers, cookie
    banners) by document frequency: an n-gram is boilerplate when it
    occurs in ≥ ``min_doc_pct``% of all documents. Output per doc:
    distinct-ngram count, boilerplate-ngram count, and the ratio a
    quality gate thresholds on.

    Scale shape: same machinery as ``ngram_contamination`` — codegen
    shingling, immediate collapse to 60-bit hashes, one count-distinct
    aggregation for document frequency, then a hash-sized semi-join back
    (boilerplate set is small ⇒ broadcast). The threshold compare is
    exact integer arithmetic (``df * 100 ≥ pct * n_docs``), so
    membership is engine-independent."""
    sh = (
        shingle_rows(df, id_col, text_col, n)
        .select(id_col, base_hash60(F.col("__s")).alias("__h"))
        .distinct()
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__nd"))
    dfreq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    boiler = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") * 100 >= min_doc_pct * F.col("__nd"))
        .select("__h")
    )
    tot = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = sh.join(boiler, "__h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_boilerplate")
    )
    return tot.join(hits, id_col, "left").select(
        id_col,
        "n_ngrams",
        F.coalesce("n_boilerplate", F.lit(0)).alias("n_boilerplate"),
        (
            F.coalesce("n_boilerplate", F.lit(0)).cast("double")
            / F.col("n_ngrams").cast("double")
        ).alias("boilerplate_ratio"),
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_chunk: int = 15,
) -> DataFrame:
    """Segment-level exact dedup — the paragraph/line dedup pass of
    C4/CCNet-style pipelines, at fixed ``words_per_chunk``-word segment
    granularity (the synthetic corpus has no newlines, so segments stand
    in for paragraphs): a segment is kept only at its FIRST occurrence
    in the corpus (minimum ``(doc_id, position)``); later copies —
    mirrored pages, quoted passages, syndicated content — are dropped,
    and each document's text is reassembled from its surviving segments.

    Scale shape: segments come from a pure array expression (slice over
    the token array — codegen, no explode-then-regroup for chunking);
    duplicate detection shuffles on a 64-bit md5 prefix of the segment
    (winner = min struct, deterministic at any parallelism); the corpus
    text shuffles exactly twice (once keyed by segment hash to tag
    losers, once by doc to reassemble) — both unavoidable since the
    output *is* the rewritten corpus. No window over the whole corpus,
    no driver materialization.

    Output per input doc: ``n_chunks``, ``n_kept``, ``dedup_text``
    ('' when every segment was a duplicate — the doc row is preserved,
    a downstream gate drops empties). NULL text is treated as '' and
    an empty document is one empty segment, so empty docs stay in the
    output (deduplicating to the corpus's first empty doc) rather than
    silently vanishing from the rewrite — posexplode of a zero-chunk
    array would drop the row entirely.
    """
    # let-bound token array: the chunking lambda would otherwise
    # re-split the document at every chunk position (interpreted HOF)
    def _chunks(words: Column) -> Column:
        n_chunks = F.ceil(F.size(words) / F.lit(words_per_chunk)).cast("int")
        return F.when(
            F.size(words) > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(words, i * words_per_chunk + 1, words_per_chunk),
                    " ",
                ),
            ),
        ).otherwise(F.array(F.lit("")))

    chunks = let_col(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "), _chunks
    )
    seg = df.select(id_col, F.posexplode(chunks).alias("cid", "chunk")).withColumn(
        "__h", F.substring(F.md5("chunk"), 1, 16)
    )
    winners = seg.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("cid").alias("c"))).alias("__w")
    )
    tagged = seg.join(winners, "__h").withColumn(
        "kept",
        (F.col(id_col) == F.col("__w.i")) & (F.col("cid") == F.col("__w.c")),
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("cid", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("dedup_text"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 16,
    anchor_stride: int = 8,
) -> DataFrame:
    """Span-level duplicate profiling — the content-defined-anchor
    approximation of exact-substring training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    which uses a suffix array; a distributed suffix array is not worth
    its constant here): spans of ``window_words`` consecutive words are
    sampled at CONTENT-DEFINED anchors — word positions whose word-hash
    is ≡ 0 mod ``anchor_stride`` — and a span is DUPLICATED if the same
    word sequence occurs anywhere else in the corpus (another doc or
    elsewhere in the same doc). Content-defined anchoring (the CDC idea
    from dedup storage systems) is what makes shifted copies findable:
    a passage pasted at a different offset in another document still
    anchors at the same words, where any fixed-offset windowing would
    sample misaligned spans and miss it. Catches copied passages that
    document-level MinHash misses because the hosts differ.

    Scale shape: anchors and spans come from pure array expressions
    (one 60-bit hash per word, filter, slice+join — codegen, like
    ``segment_dedup``'s chunking); only (doc_id, 64-bit span hash) pairs
    shuffle, never span text; duplicate detection is one hash-keyed
    count; the per-doc rollup re-clusters on doc_id. Expected one
    anchor per ``anchor_stride`` words ⇒ the shuffled stream is
    ~2×16 bytes per ``anchor_stride`` input words — far below corpus
    size, the knob that a suffix array does not give you.

    Word 1 is always an anchor, so every doc with at least one token
    (including short docs — their span is the whole text) yields at
    least one span. Empty/NULL/whitespace-only docs yield NO tokens,
    hence no anchors, and are ABSENT from the profile — the same
    contract as the shingle family for sub-``n``-token docs (a
    forced-anchor fallback would make every empty doc a "duplicate" of
    every other empty doc via the shared '' span, a meaningless
    signal).

    Returns (id_col, n_spans, n_dup_spans, dup_ratio) per input doc;
    dup_ratio is a single IEEE division (engine-exact, no rounding).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # materialize the token array before any lambda touches it: a lambda
    # body referencing the raw split() expression re-tokenizes the doc
    # at EVERY element (HOFs get no cross-element CSE) — measured 2.7×
    # on dup_span_extract before the same fix
    toks = df.select(
        F.col(id_col), F.filter(F.split(F.trim(txt), r"\s+"), lambda x: x != "").alias("__w")
    )
    words = F.col("__w")
    # empty token array (empty/NULL doc — the tokenizer drops empty
    # tokens) yields NULL anchors, which explode() drops: the doc is
    # absent from the profile. The guard also matters mechanically:
    # unguarded, sequence(1, 0) would DESCEND and index 0 crashes slice
    anchors = F.when(
        F.size(words) >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size(words)),
            lambda i: (i == 1)
            | (base_hash60(F.element_at(words, i)) % anchor_stride == 0),
        ),
    )
    spans = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                anchors,
                lambda p: F.array_join(F.slice(words, p, window_words), " "),
            )
        ).alias("__span"),
    ).select(id_col, F.substring(F.md5("__span"), 1, 16).alias("__h"))
    counts = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    return (
        spans.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__c") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_ratio"),
        )
    )


def _gram_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, __h1, __h2): one row per word position with the
    two-seed xxhash64 key of its k-gram. Token array materialized once
    per row (HOF-lambda discipline — see let_col)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = df.select(
        F.col(id_col), F.filter(F.split(F.trim(txt), r"\s+"), lambda x: x != "").alias("__w")
    )
    n_pos = F.size("__w") - F.lit(k - 1)
    positions = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda p: F.array_join(F.slice(F.col("__w"), p, k), " ")  # noqa: E731
    # independence matters: xxhash64(a, b) CHAINS (b is hashed with the
    # hash of a as seed), so xxhash64(gram, lit) would be a pure
    # function of xxhash64(gram) — one 64-bit key pretending to be two.
    # Leading with the literal makes the gram's seed differ between the
    # two columns, giving a genuinely 128-bit pair.
    return toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda p: F.struct(
                    p.alias("pos"),
                    F.xxhash64(gram(p)).alias("__h1"),
                    F.xxhash64(F.lit(k), gram(p)).alias("__h2"),
                ),
            )
        ).alias("__g"),
    ).select(
        id_col,
        F.col("__g.pos").alias("pos"),
        F.col("__g.__h1").alias("__h1"),
        F.col("__g.__h2").alias("__h2"),
    )


def _flagged_gram_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, min_count: int
) -> DataFrame:
    """Gram rows restricted to grams occurring >= min_count corpus-wide
    (partially-aggregated multiplicity count + hash semi-join)."""
    grams = _gram_rows(df, id_col, text_col, k)
    flagged_hashes = (
        grams.groupBy("__h1", "__h2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h1", "__h2")
    )
    return grams.join(flagged_hashes, ["__h1", "__h2"], "left_semi")


def _span_islands(
    flagged: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Gaps-and-islands interval grouping of flagged positions under a
    doc-partitioned window: adds __island."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + F.lit(k)).over(w_prev)
    new_island = (
        prev_end.isNull() | (F.col("pos") > prev_end)
    ).cast("int")
    return flagged.withColumn("__island", F.sum(new_island).over(w_run))


def dup_span_apply(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """The REWRITE step of exact substring dedup: every duplicated
    ``k``-gram position LOSES unless it is the corpus-first occurrence
    of its gram (minimum ``(id, pos)`` — same winner rule as
    ``segment_dedup``), losing positions merge into maximal spans, and
    each document is reassembled with its losing spans cut out. The
    canonical copy of every duplicated passage survives somewhere in
    the corpus; all other copies are removed — Lee et al. 2022's
    "keep one occurrence" policy at k-gram resolution.

    Semantics note: winner protection is per-POSITION. When a losing
    span partially overlaps tokens a neighbouring winner gram also
    covers, the span's full ``[start, last_loser_pos + k)`` range is
    still cut — a deterministic, engine-portable rule (the oracle
    replays it exactly) that errs toward removing duplicated text.

    Scale shape: ``dup_span_extract``'s machinery (token-volume gram
    shuffle, partial-agg multiplicity, doc-partitioned islands) plus
    one winner aggregation per gram hash — min(struct(id, pos)) is
    partially aggregated, so boilerplate grams collapse map-side.
    The rebuild joins cut spans back to the corpus id-keyed and drops
    tokens with a per-row array filter (no explode of the corpus).

    The gram stream is materialized ONCE via a checkpoint — it
    feeds both the multiplicity/winner aggregation and the loser join,
    and without materialization the token-volume gram emission
    re-executes per consumer. Measured: 2× end-to-end at sf0.1
    (4.5 → 2.25 s), ~20% at the 100× rehearsal (34 → 22 s). Two Arrow
    kernels were tried for the same item and REJECTED on measurement:
    (a) Python gram emission lost to the JVM HOF tier (codegen + no
    Arrow transfer of the exploded stream);
    (b) an Arrow island-merge/rebuild kernel — O(n) C-speed lists
    replacing the exists() filter — tied at sf0.1 and LOST at 100×
    (47.7 vs 29.0 s; shipping 500k docs' text through Arrow + a Python
    per-doc loop outweighs the interpreted-HOF saving), and a hybrid
    routing only cut-carrying docs through the kernel only tied
    (25.5–32 s). The expression rebuild stays; both fuzz harnesses
    (tiers-identical + vs-oracle) ran before the rejection.

    Returns (id_col, n_tokens, n_removed, clean_text); docs with
    nothing to cut pass through with their (trimmed, whitespace-
    normalized) text."""
    # one gram pass, not two: the stream feeds BOTH the multiplicity/
    # winner aggregation and the loser join; without materialization the
    # token-volume gram emission re-executes for each consumer (measured
    # 1.5x at sf0.1). The checkpoint holds ~24-byte rows — shuffle-
    # sized, the same budget winnow_overlap pays.
    grams = checkpoint(_gram_rows(df, id_col, text_col, k))
    flagged_hashes = (
        grams.groupBy("__h1", "__h2")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__win"),
        )
        .filter(F.col("__c") >= min_count)
        .select("__h1", "__h2", "__win")
    )
    losers = (
        grams.join(flagged_hashes, ["__h1", "__h2"])
        .filter(
            ~(
                (F.col(f"__win.{id_col}") == F.col(id_col))
                & (F.col("__win.pos") == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    spans = (
        _span_islands(losers, id_col, k)
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + F.lit(k)).alias("__e"),
        )
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct(F.col("__s"), F.col("__e"))).alias(
                "__cuts"
            )
        )
    )
    txt = F.coalesce(F.col(text_col), F.lit(""))
    rebuilt = (
        df.select(F.col(id_col), F.filter(F.split(F.trim(txt), r"\s+"), lambda x: x != "").alias("__w"))
        .join(spans, id_col, "left")
        .select(
            id_col,
            "__w",
            F.coalesce(
                F.col("__cuts"),
                F.array().cast("array<struct<__s:int,__e:int>>"),
            ).alias("__cuts"),
        )
    )
    # empty token array (empty/NULL doc under the empty-token-free
    # tokenizer): sequence(1, 0) would DESCEND and its 0 crashes the
    # element_at rebuild — an empty doc keeps an empty position list
    kept = F.when(
        F.size("__w") >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size("__w")),
            lambda i: ~F.exists(
                F.col("__cuts"),
                lambda sp: (i >= sp["__s"]) & (i < sp["__e"]),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return rebuilt.select(id_col, "__w", kept.alias("__kept")).select(
        id_col,
        F.size("__w").cast("long").alias("n_tokens"),
        (F.size("__w") - F.size("__kept")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.col("__kept"), lambda i: F.element_at(F.col("__w"), i)
            ),
            " ",
        ).alias("clean_text"),
    )


def dup_span_extract(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """EXACT duplicate-span extraction — the actionable counterpart of
    ``duplicate_spans`` (which anchor-samples and reports a per-doc
    ratio): every word position opens a ``k``-gram, a position is
    FLAGGED when its exact word sequence occurs ≥ ``min_count`` times
    corpus-wide (another doc or elsewhere in the same doc), and flagged
    positions merge into maximal token intervals — the byte ranges the
    suffix-array tool of Lee et al. 2022 emits for removal, computed
    without a suffix array: k-gram multiplicity is a hash-count, and
    interval merging is per-doc gaps-and-islands.

    Scale shape: the token array is materialized ONCE per row (a lambda
    referencing the raw ``split`` expression would re-tokenize the doc
    at every position — measured 2.7× slower); grams are then pure
    array expressions (slice + join + two ``xxhash64`` seeds — codegen,
    no crypto-hash cost). What shuffles is (doc_id, pos, 2×int64 gram
    key) per TOKEN — corpus-token volume, the honest price of exactness
    (``duplicate_spans`` is the sampled tier when that is too much).
    Multiplicity is a partially-aggregated groupBy on the key pair, so
    the boilerplate hazard (one gram repeated 10⁸ times at 100 TB)
    collapses map-side instead of flooding one window partition; the
    flagged semi-join is hash-keyed (AQE-skew-eligible). Interval
    merging runs under a doc-partitioned window (never global). The
    two independent 64-bit hashes form an effectively-128-bit key:
    birthday collisions ~1e-13 even at 10¹³ grams, and a collision's
    only effect is one spuriously flagged k-gram.

    Returns one row per merged span: (id_col, span_start, span_end,
    span_tokens, n_dup_grams) with 1-based token indices, ``span_end``
    exclusive. Docs shorter than ``k`` words yield no rows.
    """
    flagged = _flagged_gram_rows(df, id_col, text_col, k, min_count)
    islands = _span_islands(flagged, id_col, k)
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            "n_dup_grams",
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity self-join (PPJoin-style)
# ---------------------------------------------------------------------------

def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard self-join over word-shingle sets via prefix
    filtering — the deterministic complement to the MinHash tier:
    MinHash misses a (tunable) fraction of true pairs; this finds
    EVERY pair with J ≥ threshold, with no randomness to tune.

    Prefix-filter principle (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin): order each doc's shingles by a GLOBAL total order
    (corpus document-frequency ascending, ties by hash — rarest
    first) and keep only the first ``s − ceil(t·s) + 1`` of a
    size-``s`` set. Any pair with J ≥ t has intersection ≥ ceil(t·s)
    on both sides, so the globally-smallest shared shingle provably
    lands in BOTH prefixes — joining on prefix shingles alone loses
    nothing. Rarest-first makes the inverted-index join short: high-DF
    boilerplate shingles almost never survive into a prefix, which is
    exactly the skew that kills a naive shingle self-join.

    The threshold is a rational num/den and the verify predicate is
    integer (``den·|∩| ≥ num·|∪|``) — no float anywhere, so results
    are bit-identical across engines and partitionings.

    Scale shape: one DF aggregation over shingles, one per-doc window
    to rank, a prefix-sized equi-join for candidates, and a
    candidate-sized verify join against the full (distinct) shingle
    arrays. Docs with fewer than ``shingle_n`` tokens have no shingles
    and never pair.

    Returns (id_a, id_b, n_overlap, n_union) for every qualifying pair.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    from pyspark.sql import Window

    # The (id, shingle-hash) frame feeds THREE consumers (the DF
    # aggregation, the prefix ranking, and the verify arrays); the
    # shingle pass behind it (posexplode + window + distinct) is the
    # most expensive subtree here, so materialize it once — the same
    # I/O class as the shuffles it feeds (measured ~2× end-to-end at
    # 50k docs vs recomputing it per consumer).
    rows = checkpoint(shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col(id_col), base_hash60(F.col("__s")).alias("__h")
    ))
    freq = rows.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        rows.join(freq, "__h")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__df", "__h")
            ),
        )
        .withColumn("__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    # prefix length p = s - ceil(num*s/den) + 1, all-integer
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("__sz")
        - F.expr(f"({threshold_num} * __sz + {threshold_den - 1}) div {threshold_den}")
        + F.lit(1)
    ).select(id_col, "__h", "__sz")
    a = prefix.select(F.col(id_col).alias("id_a"), "__h",
                      F.col("__sz").alias("__za"))
    b = prefix.select(F.col(id_col).alias("id_b"), "__h",
                      F.col("__sz").alias("__zb"))
    # length filter (PPJoin): J ≥ t ⇒ min(|x|,|y|) ≥ t·max(|x|,|y|) —
    # size-incompatible pairs are pruned inside the candidate join,
    # before the distinct and the verify arrays ever see them
    candidates = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.lit(threshold_den) * F.least("__za", "__zb")
                >= F.lit(threshold_num) * F.greatest("__za", "__zb"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh = rows.groupBy(id_col).agg(
        F.collect_list("__h").alias("__hs"), F.count(F.lit(1)).alias("__size")
    )
    pairs = (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__hs_a"),
                      F.col("__size").alias("__sa")), "id_a")
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hs_b"),
                      F.col("__size").alias("__sb")), "id_b")
        .withColumn("n_overlap",
                    F.size(F.array_intersect("__hs_a", "__hs_b")).cast("long"))
        .withColumn("n_union",
                    (F.col("__sa") + F.col("__sb") - F.col("n_overlap")).cast("long"))
    )
    return pairs.filter(
        F.lit(threshold_den) * F.col("n_overlap")
        >= F.lit(threshold_num) * F.col("n_union")
    ).select("id_a", "id_b", "n_overlap", "n_union")


def minhash_group_signatures(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature of a GROUP of documents (source, domain, ingest
    batch) — the corpus-level similarity sketch: a group's signature is
    the elementwise min of its members' signatures, i.e. the MinHash of
    the UNION of their shingle sets. Elementwise min is associative and
    commutative, so group signatures are mergeable exactly like the HLL
    and CMS sketches: maintain one kilobyte-sized signature per ingest
    shard, fold new batches in with a min, and estimate any-two-group
    Jaccard as (matching components) / num_perm without touching the
    corpus again. Same hash family as the doc-level tier
    (minhash_signature_table), so doc- and group-level sketches compose.

    Shingles come from the per-DOCUMENT shingle pass (a group is a set
    union of documents, never a concatenation — no cross-document
    shingles), then one hash aggregation on group_col.

    Returns (group_col, h0..h{num_perm-1})."""
    sh = shingle_rows(df.select(id_col, text_col), id_col, text_col, shingle_n)
    grouped = sh.join(df.select(id_col, group_col), id_col)
    return _minhash_minima(grouped, group_col, num_perm)


def group_signature_matches(
    sigs: DataFrame, group_col: str, num_perm: int = 16
) -> DataFrame:
    """All-pairs component-match counts between group signatures — the
    group-similarity readout: n_match/num_perm estimates the Jaccard of
    the two groups' shingle sets. The signature table has one row per
    GROUP (tiny), so the self-join broadcasts; integer output, engine-
    exact. Returns (grp_a, grp_b, n_match) for grp_a < grp_b."""
    a = sigs.select(
        F.col(group_col).alias("grp_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_perm)],
    )
    b = sigs.select(
        F.col(group_col).alias("grp_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_perm)],
    )
    pairs = a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
    match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(num_perm)
    )
    return pairs.select("grp_a", "grp_b", match.alias("n_match"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm) over word k-grams: slide a window of ``w``
    consecutive k-gram hashes and keep each window's MINIMUM. The
    selected set is a guaranteed-detection local fingerprint: any
    shared run of at least w+k-1 tokens between two documents yields at
    least one shared fingerprint (the guarantee threshold), while only
    ~2/(w+1) of all k-gram hashes are stored. This is the third dedup
    tier alongside MinHash-LSH (whole-document set similarity — no
    locality) and dup_span (exact positions — full index cost):
    position-robust partial-overlap detection at a fraction of the
    posting volume.

    Everything up to the posting explode is scan-side row-local array
    arithmetic (tokens → k-gram hashes → windowed minima → distinct),
    so at 100 TB fingerprinting parallelizes with the file splits and
    the only exchange is the consumer's. Documents with fewer than k
    tokens have no k-grams and produce no fingerprints (spec behavior);
    with fewer than w hashes the single window is the whole hash list.

    Returns (``id_col``, fp) — one row per distinct fingerprint per
    document.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    # word_ngrams, NOT word_shingles: winnowing is positional — the
    # window slides over the hash SEQUENCE, so duplicates must stay and
    # order must be document order (array_distinct would break both)
    hashes = F.transform(
        word_ngrams(F.col(text_col), k), lambda s: base_hash60(s)
    )
    fps = let_col(
        hashes,
        lambda h: F.when(
            # no k-grams -> no windows (array_min over an empty slice
            # would otherwise fabricate a NULL fingerprint)
            F.size(h) >= 1,
            F.array_distinct(
                F.transform(
                    # size(h)-w < 0 would make sequence() DESCEND — clamp;
                    # the lone clamped window spans the whole (short) list
                    F.sequence(F.lit(0), F.greatest(F.size(h) - w, F.lit(0))),
                    lambda i: F.array_min(F.slice(h, i + 1, w)),
                )
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    return (
        df.select(F.col(id_col), fps.alias("__fps"))
        .filter(F.size("__fps") > 0)
        .select(id_col, F.explode("__fps").alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints — the MOSS-style
    partial-overlap report (plagiarism / boilerplate / quote detection;
    near-dup tiers miss a copied paragraph inside an otherwise
    different document). Inverted-index join on the fingerprint (only
    docs sharing a fingerprint ever meet — never all-pairs), map-side
    combinable pair counts, containment = shared / min(|fps_a|,
    |fps_b|) so a small document fully contained in a large one scores
    1.0. Returns (id_a, id_b, shared, containment) with id_a < id_b,
    shared >= ``min_shared``.

    ``max_df`` drops fingerprints whose document frequency exceeds it
    BEFORE the pair join — MOSS's own common-fingerprint cull: a
    boilerplate sentence shared by f documents otherwise contributes
    f·(f-1)/2 pair rows, the posting-list quadratic that kills the
    inverted index at corpus scale. None (the default) keeps exactness
    for bounded corpora; totals are counted before the cull so
    containment denominators stay the true fingerprint counts."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    totals = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    if max_df is not None:
        # document frequency via partially-aggregated groupBy + semi-join,
        # never a Window over the fingerprint: the hot boilerplate fps
        # this cull exists to remove are exactly the ones that would pile
        # a window partition into one unsplittable task, while the
        # groupBy's map-side combine absorbs them for free
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps.join(rare, "fp", "left_semi")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b, (a["fp"] == b["fp"]) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(totals.select(F.col(id_col).alias("id_a"),
                                 F.col("__n").alias("__na")), "id_a")
        .join(totals.select(F.col(id_col).alias("id_b"),
                            F.col("__n").alias("__nb")), "id_b")
        .select(
            "id_a", "id_b", "shared",
            (F.col("shared").cast("double")
             / F.least("__na", "__nb")).alias("containment"),
        )
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document novelty: how much of a doc's distinct shingle set
    appears NOWHERE else in the corpus — the diversity-sampling signal
    complementary to ``boilerplate_ngrams`` (which flags the common
    tail, this scores the unique head; upweighting high-novelty docs is
    the standard counter to near-template corpora).

    One shingle pass, one document-frequency aggregation, one join back
    — only (hash, df) pairs and (id, flags) shuffle. Integer output
    (n_shingles, n_novel); downstream ratios are the caller's choice of
    precision. Docs with < shingle_n tokens have no shingles and are
    absent from the result (no 0/0 rows).
    """
    rows = shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col(id_col), base_hash60(F.col("__s")).alias("__h")
    )
    freq = rows.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        rows.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B| / |A| ≥ num/den — the
    quote/excerpt detector Jaccard cannot be: a 50-shingle quote inside
    a 5000-shingle article has Jaccard ≈ 0.01 but containment 1.0.
    Curation uses: find docs that are substantially embedded in larger
    docs (syndication, quoting, wrapper pages) and keep the canonical
    host.

    Inverted-index candidates (docs sharing ≥ 1 shingle hash — the
    only sub-quadratic exact generator for containment, since a
    contained doc shares EVERY shingle with its host), then an integer
    verify ``den·|∩| ≥ num·|A|``. No floats anywhere. Emits ordered
    pairs: (id_a contained-in id_b), both directions evaluated, a ≠ b.

    Scale note — two tiers. Exact (``max_df=None``): candidate volume
    is Σ_shingle df², and in ANY corpus the hottest shingles' document
    frequency grows linearly with corpus size (boilerplate phrases),
    so the exact tier's self-join grows quadratically — it is the
    audit tier, like the prefix filter's. Scale tier (``max_df=K``):
    shingles appearing in more than K documents are excluded from the
    inverted index BEFORE the self-join (one extra hash agg on the
    shingle hash). Those shingles are exactly the boilerplate that
    carries no containment signal — the same reasoning as
    ``boilerplate_ngrams`` — and the result becomes containment over
    the ≤K-df shingle subset of A (denominator included: sizes are
    computed on the SAME filtered index, so a doc made entirely of
    boilerplate yields no pairs rather than false positives).
    Candidate volume is then ≤ K · (filtered rows): linear in corpus
    size for fixed K. At 100 TB run max_df≈1000 after a
    boilerplate_ngrams pass; the rehearsal (SCALE.md) measures both
    tiers.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    rows = shingle_rows(df, id_col, text_col, shingle_n).select(
        F.col(id_col), base_hash60(F.col("__s")).alias("__h")
    )
    if max_df is not None:
        rare = (
            rows.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__h")
        )
        rows = rows.join(rare, "__h", "left_semi")
    rows = checkpoint(rows)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = rows.select(F.col(id_col).alias("id_a"), "__h")
    b = rows.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        a.join(b, "__h")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("__sz").alias("size_a")), "id_a")
        .filter(F.lit(threshold_den) * F.col("n_overlap")
                >= F.lit(threshold_num) * F.col("size_a"))
        .select("id_a", "id_b",
                F.col("n_overlap").cast("long").alias("n_overlap"),
                F.col("size_a").cast("long").alias("size_a"))
    )


def cross_source_duplication(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    fingerprint_words: int | None = None,
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    DISTINCT texts appear in both — the provenance audit that finds
    mirror sites, re-crawls, and syndication feeds before per-document
    dedup hides them (and the contamination channel audit when one
    "source" is an eval set).

    ``fingerprint_words=None`` keys on the full text (exact duplicates
    only); an integer keys on the first-N-words lede fingerprint — the
    syndication heuristic that catches re-published articles whose
    boilerplate tails differ (tokenized ``\\W+`` lowercase, like the
    lexical family).

    Scale shape: texts collapse to 16-byte md5 keys before anything
    shuffles; one hash-distinct of (hash, source) — bounded by docs —
    then one groupBy(hash) whose ``collect_set`` state is capped by the
    source universe (sources ≪ corpus), pairs built per group with
    array expressions. Output is |sources|² rows at most. No text
    payloads move, nothing driver-side.

    Returns (source_a, source_b, n_shared_texts) with source_a <
    source_b lexicographically.
    """
    if fingerprint_words is None:
        key = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    else:
        # coalesce BEFORE tokenizing: a NULL text must key as md5('')
        # like an empty one, not collapse into a NULL-keyed group
        lede = F.slice(
            F.filter(
                F.split(
                    F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\W+",
                ),
                lambda w: w != "",
            ),
            1,
            fingerprint_words,
        )
        key = F.md5(F.array_join(lede, " "))
    per = df.select(
        key.alias("__h"),
        F.col(source_col).alias("__s"),
    ).distinct()
    grp = (
        per.groupBy("__h")
        .agg(F.array_sort(F.collect_set("__s")).alias("__ss"))
        .filter(F.size("__ss") >= 2)
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(__ss) - 2), a -> "
                "transform(sequence(a + 1, size(__ss) - 1), b -> "
                "struct(__ss[a] AS sa, __ss[b] AS sb))))"
            )
        ).alias("__p")
    )
    return pairs.groupBy(
        F.col("__p.sa").alias("source_a"), F.col("__p.sb").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared_texts"))

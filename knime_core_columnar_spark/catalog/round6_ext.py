"""Round-6 in-round extensions — operators added after the round-6
window flip executed (BM25/RM3/MMR/RBO retrieval, exact covariance,
PMI collocations, cross-source duplication, pHash near-dup, image
headers, contrastive/bitext mining). First driver-checked in round 7
(they had no evidence row, so the rotation put them in that window).

Every entry follows the registry determinism rules (_registry.py
docstring): scaled-int64 sums, 6-decimal rounds before ordering, every
computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knime_core_columnar_spark.catalog._registry import (
    _table_meta,
    _t,
    _tw,
    query,
)


@query(
    "bm25_topk",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\W+')) AS t
      FROM documents
    ), tf AS (
      SELECT id, t, COUNT(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
    ), q AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\W+'),
               w -> w <> ''))) AS t
      FROM documents WHERE doc_id IN (3, 47, 205)
    ), cand AS (
      SELECT q.query_id, tf.id AS doc_id,
             CAST(round(round(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
             6) * 1000000, 0) AS BIGINT) AS s6
      FROM tf JOIN q USING (t) JOIN dfq USING (t) JOIN dl USING (id), stats
    ), agg AS (
      SELECT query_id, doc_id, COUNT(*) AS n_terms_hit,
             CAST(SUM(s6) AS BIGINT) AS bm25_scaled
      FROM cand GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_terms_hit, bm25_scaled, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY bm25_scaled DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 10
    """,
)
def _r6x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators.similarity.bm25_topk): Lucene
    k1=1.2 / b=0.75 scoring with +1-shifted IDF; per-term scores are
    6-decimal-rounded int64 micro-units BEFORE the per-(query, doc) sum,
    so ranking is engine-exact. Query batch = the hybrid_search_rrf
    query documents (their full text is the keyword query)."""
    from knime_core_columnar_spark.operators.similarity import bm25_topk

    d = _t(spark, sf_dir, "documents")
    q = d.filter(F.col("doc_id").isin([3, 47, 205])).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
    )
    return bm25_topk(d, q, k=10)


@query(
    "embedding_covariance",
    r"""
    WITH x AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)))
               AS xi,
             unnest(range(len(embedding))) AS d
      FROM embeddings
    ), sxy AS (
      SELECT a.d AS i, b.d AS j,
             SUM(CAST(a.xi * b.xi AS DECIMAL(38,0))) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY 1, 2
    ), sx AS (
      SELECT d, SUM(CAST(xi AS DECIMAL(38,0))) AS sx, COUNT(*) AS n
      FROM x GROUP BY 1
    )
    SELECT sxy.i, sxy.j, si.n AS n_vecs,
           round((CAST(sxy AS DOUBLE)
                  - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE)
                    / CAST(si.n AS DOUBLE))
                 / CAST(si.n AS DOUBLE) / 1000000000000.0, 9) AS cov
    FROM sxy JOIN sx si ON sxy.i = si.d JOIN sx sj ON sxy.j = sj.d
    """,
)
def _r6x_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding covariance matrix, long-form upper triangle
    (operators.similarity.embedding_covariance): int64 micro-unit
    products summed as decimal(38,0) — engine/partitioning-exact; the
    d-row/d²-row aggregates are the distributed step of PCA
    (pca_project runs numpy eigh on this dimension-sized result)."""
    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_t(spark, sf_dir, "embeddings"))


@query(
    "collocations_pmi",
    r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\W+'),
                         w -> w <> '') AS ts
      FROM documents
    ), bi AS (
      SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
      FROM toks WHERE len(ts) >= 2
    ), c12 AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2
    ), cl AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c_left FROM c12 GROUP BY 1
    ), cr AS (
      SELECT w2, CAST(SUM(c12) AS BIGINT) AS c_right FROM c12 GROUP BY 1
    ), n2 AS (
      SELECT CAST(SUM(c12) AS DOUBLE) AS n2 FROM c12
    )
    SELECT w1, w2, c12, c_left, c_right,
           round(ln(CAST(c12 AS DOUBLE) * n2
                    / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE))),
                 6) AS pmi
    FROM c12 JOIN cl USING (w1) JOIN cr USING (w2), n2
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def _r6x_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-detection collocations (operators.text.collocations_pmi):
    PMI over the bigram joint with its own marginals — everything from
    ONE bigram count table; global top-20 via TakeOrderedAndProject."""
    from knime_core_columnar_spark.operators.text import collocations_pmi

    return collocations_pmi(
        _t(spark, sf_dir, "documents"), min_count=5, k=20
    )


@query(
    "cross_source_duplication",
    r"""
    WITH per AS (
      SELECT DISTINCT
        md5(array_to_string(
          list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                         '\W+'),
                      w -> w <> '')[1:6], ' ')) AS h,
        source AS s
      FROM documents
    )
    SELECT a.s AS source_a, b.s AS source_b, COUNT(*) AS n_shared_texts
    FROM per a JOIN per b ON a.h = b.h AND a.s < b.s
    GROUP BY 1, 2
    """,
)
def _r6x_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix keyed on the 6-word lede
    fingerprint (operators.dedup.cross_source_duplication) — the
    syndication/re-crawl provenance audit. The oracle takes the
    self-join evaluation strategy; the engine builds pairs per hash
    group with array expressions (collect_set bounded by the source
    universe)."""
    from knime_core_columnar_spark.operators.dedup import (
        cross_source_duplication,
    )

    return cross_source_duplication(
        _t(spark, sf_dir, "documents"), fingerprint_words=6
    )


@query(
    "vocab_growth_stats",
    r"""
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split_regex(lower(trim(text)), '\W+')) AS t
      FROM documents
    ), counts AS (
      SELECT g, t, COUNT(*) AS c FROM toks WHERE t <> '' GROUP BY 1, 2
    )
    SELECT g AS source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS type_token_ratio,
           round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
    FROM counts GROUP BY 1
    """,
)
def _r6x_vocab_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-growth audit (operators.text.
    vocab_growth_stats): Heaps'-law signals — type/token ratio and
    hapax share — from ONE (source, token) count table."""
    from knime_core_columnar_spark.operators.text import vocab_growth_stats

    return vocab_growth_stats(_t(spark, sf_dir, "documents"))


@query(
    "temporal_split_embargo",
    """
    WITH span AS (
      SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events
    ), fenced AS (
      SELECT epoch_us(ts) AS us, user_id,
             t0 + CAST(floor(0.7 * (CAST(t1 AS DOUBLE) - CAST(t0 AS DOUBLE)))
                       AS BIGINT) AS f1,
             t0 + CAST(floor(0.8 * (CAST(t1 AS DOUBLE) - CAST(t0 AS DOUBLE)))
                       AS BIGINT) AS f2
      FROM events, span
    )
    SELECT CASE WHEN us < f1 THEN 'train'
                WHEN us < f2 THEN 'embargo'
                ELSE 'test' END AS split,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(us) AS first_us,
           MAX(us) AS last_us
    FROM fenced GROUP BY 1
    """,
)
def _r6x_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-ordered train/embargo/test split (operators.sampling.
    temporal_split_embargo): time-range fences in exact epoch micros,
    embargo band discarded from training — the leakage-safe temporal
    counterpart of hash_split."""
    from knime_core_columnar_spark.operators.sampling import (
        temporal_split_embargo,
    )

    return temporal_split_embargo(
        _t(spark, sf_dir, "events"), train_frac=0.7, embargo_end_frac=0.8
    )


@query(
    "phash_near_dup",
    """
    WITH base AS (
      SELECT doc_id, encode(text) AS p FROM documents
      WHERE text IS NOT NULL AND octet_length(encode(text)) >= 64
    ), byt AS (
      SELECT doc_id, CAST(octet_length(p) AS BIGINT) AS L,
             list_transform(range(octet_length(p)),
               q -> CAST(('0x' || substring(hex(p), 2*q + 1, 2)) AS BIGINT))
               AS bytes
      FROM base
    ), tot AS (
      SELECT doc_id, L, bytes,
             CAST(list_sum(bytes) AS BIGINT) AS total
      FROM byt
    ), sig AS (
      SELECT doc_id,
             list_transform(range(64), j -> CASE WHEN
               CAST(list_sum(bytes[(j * L) // 64 + 1 : ((j + 1) * L) // 64])
                    AS BIGINT) * L
               >= total * (((j + 1) * L) // 64 - (j * L) // 64)
             THEN 1 ELSE 0 END) AS bits
      FROM tot
    ), banded AS (
      SELECT doc_id,
             list_transform(range(16), b ->
               CAST(list_sum(list_transform(range(4),
                 t -> bits[b * 4 + t + 1] * (1 << t))) AS INTEGER)) AS bands,
             bits
      FROM sig
    ), cand AS (
      SELECT doc_id, unnest(bands) AS v, unnest(range(16)) AS b
      FROM banded
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM cand a JOIN cand c
        ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id
    ), ham AS (
      SELECT p.id_a, p.id_b,
             CAST(list_sum(list_transform(range(64),
               t -> abs(x.bits[t + 1] - y.bits[t + 1]))) AS INTEGER)
               AS hamming
      FROM pairs p
      JOIN banded x ON p.id_a = x.doc_id
      JOIN banded y ON p.id_b = y.doc_id
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 9
    """,
)
def _r6x_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over binary payloads
    (operators.multimodal.phash_near_dup_pairs): byte-slice aHash
    fingerprints (integer cross-multiplied — float-free), banded LSH
    candidates with the pigeonhole zero-false-negative guarantee,
    integer Hamming verify. Payloads derive from the documents text
    (attach_binary_payload), standing in for image bytes — the decoder
    plug point is marked in ahash_signatures. band_bits=4 (16 bands)
    covers max_hamming=9 at the catalog corpus size; the docstring
    gives the wider-band guidance for billion-asset corpora."""
    from knime_core_columnar_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup_pairs,
    )

    d = attach_binary_payload(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    # max_bucket=None: this query's contract (and its oracle) is the
    # UNCAPPED pigeonhole-exact pipeline — the finite default would
    # silently drop pairs the oracle keeps on a skewed bucket (round-7
    # advisory). corpus_count from the parquet footer (upper bound over
    # the notNull filter — only tier/hint decisions read it) skips the
    # per-call count job.
    return phash_near_dup_pairs(
        d, id_col="doc_id", payload_col="payload",
        max_hamming=9, band_bits=4, max_bucket=None,
        corpus_count=_table_meta(spark, sf_dir, "documents").rows,
    )


def _rbo_coeff_sql() -> str:
    """The SAME scaled-integer RBO coefficients the Spark operator uses,
    rendered as a SQL literal array — driver-computed constants, so no
    runtime float summation on either engine."""
    from knime_core_columnar_spark.operators.similarity import (
        rbo_coefficients_scaled,
    )

    return "[" + ", ".join(str(c) for c in rbo_coefficients_scaled(20)) + "]"


RETRIEVAL_RBO_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\W+')) AS t
      FROM documents
    ), tf AS (
      SELECT id, t, COUNT(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
    ), q AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\W+'),
               w -> w <> ''))) AS t
      FROM documents WHERE doc_id IN (3, 47, 205)
    ), cand AS (
      SELECT q.query_id, tf.id AS doc_id,
             CAST(round(round(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
             6) * 1000000, 0) AS BIGINT) AS s6
      FROM tf JOIN q USING (t) JOIN dfq USING (t) JOIN dl USING (id), stats
    ), agg AS (
      SELECT query_id, doc_id, CAST(SUM(s6) AS BIGINT) AS bm25_scaled
      FROM cand GROUP BY 1, 2
    ), lex AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY bm25_scaled DESC, doc_id)
                    AS rank
        FROM agg
      ) WHERE rank <= 20
    ), qv AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE vec_id IN (3, 47, 205)
    ), vs AS (
      SELECT qv.query_id, e.vec_id AS doc_id,
             round(list_dot_product(qv.v, e.embedding::DOUBLE[])
               / (qv.nrm * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[]))), 6)
               AS cos
      FROM embeddings e, qv WHERE e.vec_id <> qv.query_id
    ), vec AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, doc_id) AS rank
        FROM vs
      ) WHERE rank <= 20
    ), common AS (
      SELECT lex.query_id,
             __COEFF__[greatest(lex.rank, vec.rank) + 1] AS c
      FROM lex JOIN vec USING (query_id, doc_id)
    ), per_q AS (
      SELECT query_id, COUNT(*) AS n_common,
             CAST(SUM(c) AS BIGINT) AS rbo_scaled
      FROM common GROUP BY 1
    )
    SELECT q.query_id,
           CAST(coalesce(per_q.n_common, 0) AS BIGINT) AS n_common,
           CAST(coalesce(per_q.rbo_scaled, 0) AS BIGINT) AS rbo_scaled
    FROM (SELECT DISTINCT query_id FROM lex) q
    LEFT JOIN per_q USING (query_id)
"""


@query("retrieval_rbo", RETRIEVAL_RBO_ORACLE.replace("__COEFF__", _rbo_coeff_sql()))
def _r6x_retrieval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the BM25 list and the dense-cosine
    list per query (operators.similarity.ranking_rbo, truncated
    RBO@20, p=0.9): the agreement metric for lexical-vs-dense
    retrieval. Both lists and the metric are engine-exact (scaled-int64
    BM25, 6-decimal cosine, integer-literal RBO coefficients)."""
    from knime_core_columnar_spark.operators.similarity import (
        bm25_topk,
        brute_force_topk,
        ranking_rbo,
    )

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    ids = [3, 47, 205]
    lex = bm25_topk(
        d,
        d.filter(F.col("doc_id").isin(ids)).select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        ),
        k=20,
    )
    vec = brute_force_topk(
        e, e.filter(F.col("vec_id").isin(ids)), k=20, id_col="vec_id"
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return ranking_rbo(lex, vec, depth=20)


@query(
    "rm3_expanded_search",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\W+')) AS t
      FROM documents
    ), tf AS (
      SELECT id, t, COUNT(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
    ), qterms AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\W+'),
               w -> w <> ''))) AS t
      FROM documents WHERE doc_id IN (3, 47, 205)
    ), base_cand AS (
      SELECT q.query_id, tf.id AS doc_id,
             CAST(round(round(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
             6) * 1000000, 0) AS BIGINT) AS s6
      FROM tf JOIN qterms q USING (t) JOIN dfq USING (t) JOIN dl USING (id),
           stats
    ), base AS (
      SELECT query_id, doc_id, bm25_scaled FROM (
        SELECT query_id, doc_id, CAST(SUM(s6) AS BIGINT) AS bm25_scaled,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY CAST(SUM(s6) AS BIGINT) DESC,
                                           doc_id) AS rank
        FROM base_cand GROUP BY 1, 2
      ) WHERE rank <= 5
    ), wts AS (
      SELECT b.query_id, tf.t,
             CAST(SUM(tf.tf * b.bm25_scaled) AS BIGINT) AS w
      FROM tf JOIN base b ON tf.id = b.doc_id
      GROUP BY 1, 2
    ), wts_new AS (
      SELECT wts.* FROM wts
      LEFT JOIN qterms q ON wts.query_id = q.query_id AND wts.t = q.t
      WHERE q.t IS NULL
    ), expansion AS (
      SELECT query_id, t FROM (
        SELECT query_id, t,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY w DESC, t) AS rk
        FROM wts_new
      ) WHERE rk <= 10
    ), expanded AS (
      SELECT query_id, t FROM qterms
      UNION
      SELECT query_id, t FROM expansion
    ), final_cand AS (
      SELECT q.query_id, tf.id AS doc_id,
             CAST(round(round(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
             6) * 1000000, 0) AS BIGINT) AS s6
      FROM tf JOIN expanded q USING (t) JOIN dfq USING (t)
              JOIN dl USING (id), stats
    ), agg AS (
      SELECT query_id, doc_id, COUNT(*) AS n_terms_hit,
             CAST(SUM(s6) AS BIGINT) AS bm25_scaled
      FROM final_cand GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_terms_hit, bm25_scaled, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY bm25_scaled DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 10
    """,
)
def _r6x_rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (operators.similarity.
    rm3_expand_topk, RM3 shape): BM25 top-5 feedback docs, top-10
    expansion terms by exact int64 tf·score weight (original terms
    excluded), second BM25 pass over the expanded term set — all on
    the ONE shared tf table."""
    from knime_core_columnar_spark.operators.similarity import (
        rm3_expand_topk,
    )

    d = _t(spark, sf_dir, "documents")
    q = d.filter(F.col("doc_id").isin([3, 47, 205])).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
    )
    return rm3_expand_topk(d, q, k=10, n_feedback=5, n_expansion=10)


def _contrastive_oracle() -> str:
    from knime_core_columnar_spark.catalog.llm_text import _duck_rp_bucket

    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_duck_rp_bucket('embedding', 64, 4)} AS bucket,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_dot_product(a.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[])
                   / (a.nrm * c.nrm), 6) AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, cos,
           CASE WHEN cos >= 0.9 THEN 'positive'
                WHEN cos >= 0.0 AND cos <= 0.5 THEN 'hard_negative'
           END AS label
    FROM pairs
    WHERE cos >= 0.9 OR (cos >= 0.0 AND cos <= 0.5)
    """


@query("contrastive_pairs", _contrastive_oracle())
def _r6x_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (operators.similarity.
    contrastive_pairs): positives = near-dup cosine ≥ 0.9, hard
    negatives = same-LSH-bucket pairs at cosine ∈ [0, 0.5]; the oracle
    replays the identical md5-seeded hyperplane constants in SQL (the
    ann_topk_lsh discipline)."""
    from knime_core_columnar_spark.operators.similarity import (
        contrastive_pairs,
    )

    return contrastive_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64,
        pos_threshold=0.9, neg_low=0.0, neg_high=0.5, planes=4,
        corpus_count=_table_meta(spark, sf_dir, "embeddings").rows,
    )


def _duck_le3(c: str) -> str:
    """3-byte little-endian hex rendering of an int expression."""
    return (
        f"unhex(lpad(hex(({c}) % 256), 2, '0')) || "
        f"unhex(lpad(hex((({c}) // 256) % 256), 2, '0')) || "
        f"unhex(lpad(hex((({c}) // 65536) % 256), 2, '0'))"
    )


def _duck_le4(c: str) -> str:
    return (
        _duck_le3(c) + f" || unhex(lpad(hex((({c}) // 16777216) % 256), 2, '0'))"
    )


def _duck_le_read(byte_off: int, n_bytes: int) -> str:
    """Little-endian unsigned read from the hex string hx (byte N at
    hex position 2N+1) — the DuckDB twin of the engine's parse."""
    return " + ".join(
        f"{256 ** k} * CAST(('0x' || substring(hx, {2 * (byte_off + k) + 1}, 2)) AS BIGINT)"
        for k in range(n_bytes)
    )


# Fixed container prefixes for the synthesized corpus (sizes are
# plausible literals; the parser reads offsets, not sizes):
# RIFF + size + WEBP + VP8X + chunklen(10) + flags/reserved — 24 bytes
_WEBP_VP8X_PREFIX = "524946461E00000057454250565038580A00000000000000"
# BM + filesize + reserved + dataoffset(54) + dibsize(40) — 18 bytes
_BMP_PREFIX = "424D36000000000000003600000028000000"


def _image_header_oracle() -> str:
    w_png = "CAST(('0x' || substring(hx, 33, 8)) AS INT)"
    h_png = "CAST(('0x' || substring(hx, 41, 8)) AS INT)"
    w_gif = ("CAST(('0x' || substring(hx, 13, 2)) AS INT)"
             " + 256 * CAST(('0x' || substring(hx, 15, 2)) AS INT)")
    h_gif = ("CAST(('0x' || substring(hx, 17, 2)) AS INT)"
             " + 256 * CAST(('0x' || substring(hx, 19, 2)) AS INT)")
    w_bmp = f"CAST({_duck_le_read(18, 4)} AS INT)"
    hv = _duck_le_read(22, 4)
    h_bmp = (f"CAST(CASE WHEN ({hv}) >= 2147483648 "
             f"THEN 4294967296 - ({hv}) ELSE ({hv}) END AS INT)")
    w_vp8x = f"CAST(1 + {_duck_le_read(24, 3)} AS INT)"
    h_vp8x = f"CAST(1 + {_duck_le_read(27, 3)} AS INT)"
    return f"""
    WITH built AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 5 = 0 THEN
                 unhex('89504E470D0A1A0A0000000D49484452')
                 || unhex(lpad(hex(n_chars % 65536), 8, '0'))
                 || unhex(lpad(hex((doc_id % 256) + 1), 8, '0'))
               WHEN doc_id % 5 = 1 THEN
                 unhex('474946383961')
                 || unhex(lpad(hex((n_chars % 65536) % 256), 2, '0'))
                 || unhex(lpad(hex((n_chars % 65536) // 256), 2, '0'))
                 || unhex(lpad(hex(((doc_id % 256) + 1) % 256), 2, '0'))
                 || unhex(lpad(hex(((doc_id % 256) + 1) // 256), 2, '0'))
               WHEN doc_id % 5 = 2 THEN
                 unhex('{_WEBP_VP8X_PREFIX}')
                 || {_duck_le3("n_chars % 65536")}
                 || {_duck_le3("doc_id % 256")}
               WHEN doc_id % 5 = 3 THEN
                 unhex('{_BMP_PREFIX}')
                 || {_duck_le4("n_chars % 65536")}
                 || {_duck_le4("(doc_id % 256) + 1")}
               ELSE encode(coalesce(text, ''))
             END AS p
      FROM documents
    ), parsed AS (
      SELECT doc_id, hex(p) AS hx FROM built
    )
    SELECT doc_id,
           CASE WHEN hx LIKE '89504E470D0A1A0A%' THEN 'png'
                WHEN substring(hx, 1, 12) IN ('474946383761', '474946383961')
                  THEN 'gif'
                WHEN substring(hx, 1, 4) = '424D' AND length(hx) >= 52
                  THEN 'bmp'
                WHEN substring(hx, 1, 8) = '52494646'
                     AND substring(hx, 17, 8) = '57454250' THEN 'webp'
                WHEN substring(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
           END AS format,
           CASE WHEN hx LIKE '89504E470D0A1A0A%' THEN {w_png}
                WHEN substring(hx, 1, 12) IN ('474946383761', '474946383961')
                  THEN {w_gif}
                WHEN substring(hx, 1, 4) = '424D' AND length(hx) >= 52
                  THEN {w_bmp}
                WHEN substring(hx, 1, 8) = '52494646'
                     AND substring(hx, 17, 8) = '57454250'
                     AND substring(hx, 25, 8) = '56503858' THEN {w_vp8x}
           END AS width,
           CASE WHEN hx LIKE '89504E470D0A1A0A%' THEN {h_png}
                WHEN substring(hx, 1, 12) IN ('474946383761', '474946383961')
                  THEN {h_gif}
                WHEN substring(hx, 1, 4) = '424D' AND length(hx) >= 52
                  THEN {h_bmp}
                WHEN substring(hx, 1, 8) = '52494646'
                     AND substring(hx, 17, 8) = '57454250'
                     AND substring(hx, 25, 8) = '56503858' THEN {h_vp8x}
           END AS height
    FROM parsed
    """


@query("image_header_meta", _image_header_oracle())
def _r6x_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header parsing (operators.multimodal.
    extract_image_meta): PNG IHDR / GIF logical-screen / BMP int32-LE /
    WebP VP8X canvas dimensions from header bytes — pure Catalyst hex
    arithmetic, no imaging library. The query synthesizes valid
    headers of all four container formats (dims from n_chars / doc_id)
    plus raw-text negatives, parses them back, and the oracle replays
    BOTH the construction and the parse. (The WebP VP8L/VP8 variants
    and BMP top-down negative heights are pytest-pinned with hand-built
    byte fixtures — test_r7_ext.py.)"""
    from knime_core_columnar_spark.operators.multimodal import (
        extract_image_meta,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.col("n_chars") % 65536
    h = (F.col("doc_id") % 256) + 1
    b2 = lambda c: F.unhex(F.lpad(F.hex(c), 2, "0"))  # noqa: E731
    b4 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731

    # little-endian byte renderings via explicit div/mod (int-exact)
    def le_bytes(c, n):
        parts = []
        for k in range(n):
            parts.append(b2((c / (256 ** k)).cast("long") % 256))
        return F.concat(*parts)

    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")), b4(w), b4(h)
    )
    gif = F.concat(
        F.unhex(F.lit("474946383961")),
        b2(w % 256), b2(F.expr("CAST((n_chars % 65536) div 256 AS INT)")),
        b2(h % 256), b2(F.expr("CAST(((doc_id % 256) + 1) div 256 AS INT)")),
    )
    webp = F.concat(
        F.unhex(F.lit(_WEBP_VP8X_PREFIX)),
        le_bytes(w, 3),
        le_bytes(F.col("doc_id") % 256, 3),
    )
    bmp = F.concat(
        F.unhex(F.lit(_BMP_PREFIX)),
        le_bytes(w, 4),
        le_bytes(h, 4),
    )
    payload = (
        F.when(F.col("doc_id") % 5 == 0, png)
        .when(F.col("doc_id") % 5 == 1, gif)
        .when(F.col("doc_id") % 5 == 2, webp)
        .when(F.col("doc_id") % 5 == 3, bmp)
        .otherwise(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
    )
    return extract_image_meta(
        d.select("doc_id", payload.alias("payload")),
        id_col="doc_id", payload_col="payload",
    )


def _bitext_oracle() -> str:
    from knime_core_columnar_spark.catalog.llm_text import _duck_rp_bucket

    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_duck_rp_bucket('embedding', 64, 4)} AS bucket,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    ), p AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_dot_product(a.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[])
                   / (a.nrm * c.nrm), 6) AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    ), d AS (
      SELECT doc_id, lang FROM documents
    )
    SELECT id_a, id_b, da.lang AS lang_a, db.lang AS lang_b, cos
    FROM p JOIN d da ON p.id_a = da.doc_id
           JOIN d db ON p.id_b = db.doc_id
    WHERE cos >= 0.4 AND da.lang <> db.lang
    """


@query("bitext_mining", _bitext_oracle())
def _r6x_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (operators.similarity.
    cross_lingual_pairs, the LASER/CCMatrix shape): cross-language
    document pairs with near-parallel embeddings, bucket-confined with
    the md5-seeded hyperplanes the oracle replays as literals. The
    0.4 threshold is calibrated to the SYNTHETIC fixture embeddings
    (not language-agnostic, so cross-lang cosines top out ~0.51);
    language-agnostic production embeddings use ~0.9 or a margin
    score, as the operator docstring notes."""
    from knime_core_columnar_spark.operators.similarity import (
        cross_lingual_pairs,
    )

    return cross_lingual_pairs(
        _t(spark, sf_dir, "embeddings"),
        _t(spark, sf_dir, "documents"),
        dim=64, threshold=0.4, planes=4,
        corpus_count=_table_meta(spark, sf_dir, "embeddings").rows,
    )

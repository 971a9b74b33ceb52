"""Retrieval catalog queries: exact and approximate nearest neighbours
(LSH, IVF, PQ), BM25, RM3 and hybrid rank fusion, rank overlap,
embedding statistics, and pair mining over the embeddings table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knime_core_columnar_spark.catalog._registry import (
    _t,
    _table_meta,
    _tw,
    query,
)


@query(
    "ann_topk",
    """
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
      )
    ) WHERE rank <= 5
    """,
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — the exact baseline
    the LSH/IVF tiers are recall-tested against."""
    from knime_core_columnar_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter("vec_id < 10"), k=5)


def _duck_rp_bucket(vec_expr: str, dim: int, planes: int) -> str:
    """DuckDB SQL for the random-hyperplane LSH bucket id, with the
    md5-seeded hyperplane weights embedded as literals — list_dot_product
    accumulates element-sequentially, the same floating-point order as
    the Spark kernel, so the sign bits (and hence buckets) are
    bit-identical."""
    from knime_core_columnar_spark.operators.similarity import _hyperplane

    parts = []
    for p in range(planes):
        arr = "[" + ", ".join(repr(x) for x in _hyperplane(p, dim)) + "]::DOUBLE[]"
        parts.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {arr}) > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


@query(
    "ann_topk_lsh",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_duck_rp_bucket('embedding', 64, 4)} AS bucket,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                   / (q.nrm * c.nrm), 6) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                              / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rank
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Approximate vs brute force, but
    fully deterministic (md5-seeded hyperplanes), so the oracle embeds
    the same hyperplane constants as SQL literals and the driver checks
    it value-exactly like any other query."""
    from knime_core_columnar_spark.operators.similarity import rp_lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    return rp_lsh_topk(e, e.filter("vec_id < 10"), dim=64, k=5, planes=4)


@query(
    "ann_topk_ivf",
    """
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    s AS (
      SELECT vec_id, embedding,
             ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '|ivf-centroids'), 1, 15))::BIGINT
               % 10000 AS h
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cent
      FROM s, nn
      WHERE h <= least(10000, CAST(floor(640000.0 / n + 0.5) AS BIGINT))
      ORDER BY h, vec_id LIMIT 16
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, cv, cell_id FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS cv, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], c.cent)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cent, c.cent))) DESC, c.cell_id) AS rk
        FROM embeddings e, cents c
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, qv, cell_id FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS qv, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], c.cent)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cent, c.cent))) DESC, c.cell_id) AS rk
        FROM embeddings e, cents c
        WHERE e.vec_id < 10
      ) WHERE rk <= 4
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT p.query_id, a.neighbor_id,
             round(list_dot_product(p.qv, a.cv)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(a.cv, a.cv))), 6) AS cos,
             ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
               round(list_dot_product(p.qv, a.cv)
                     / (sqrt(list_dot_product(p.qv, p.qv))
                        * sqrt(list_dot_product(a.cv, a.cv))), 6) DESC,
               a.neighbor_id) AS rank
      FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.neighbor_id <> p.query_id
    ) WHERE rank <= 5
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-tier approximate top-k (operators.similarity.ivf_topk):
    deterministic hash-sampled centroids, nearest-cell assignment, and
    4-cell probing are all exact integer/sequential-double arithmetic,
    so the entire inverted-file pipeline — centroid pick, cell
    membership, probe set, final ranking — is value-checked against the
    SQL replay (previously this tier was pytest-only)."""
    from knime_core_columnar_spark.operators.similarity import ivf_topk

    e = _tw(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.filter("vec_id < 10"), k=5, ncells=16, nprobe=4,
                    corpus_count=_table_meta(spark, sf_dir, "embeddings").rows)


@query(
    "knn_classify",
    """
    WITH nb AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                             * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                          DESC, c.vec_id) AS rank
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND c.vec_id >= 10
      ) WHERE rank <= 5
    ), votes AS (
      SELECT nb.query_id, e.label, COUNT(*) AS cnt
      FROM nb JOIN embeddings e ON e.vec_id = nb.neighbor_id
      GROUP BY nb.query_id, e.label
    )
    SELECT query_id, label AS pred_label, CAST(cnt AS BIGINT) AS votes FROM (
      SELECT query_id, label, cnt,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cnt DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-NN classification (the KNIME K Nearest Neighbor
    node): exact cosine top-5 among the labeled corpus (vec_id ≥ 10)
    for each query vector, then majority vote with a deterministic
    tie-break (most votes, then smallest label). The neighbor search is
    the broadcast + WindowGroupLimit brute-force tier; votes aggregate
    per query; the winner is min(struct(-votes, label)) — no second
    window over the data."""
    from knime_core_columnar_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    nb = brute_force_topk(
        e.filter("vec_id >= 10"), e.filter("vec_id < 10"), k=5
    ).select("query_id", "neighbor_id")
    votes = (
        nb.join(
            e.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    win = votes.groupBy("query_id").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
        ).alias("w")
    )
    return win.select(
        "query_id",
        F.col("w.l").alias("pred_label"),
        (-F.col("w.nc")).cast("long").alias("votes"),
    )


@query(
    "label_coherence",
    """
    WITH u AS (
      SELECT label, d, round(CAST(SUM(x6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS m
      FROM (
        SELECT label,
               generate_subscripts(embedding, 1) AS d,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x6
        FROM embeddings
      ) GROUP BY label, d
    ), c AS (
      SELECT label, list(m ORDER BY d) AS cent FROM u GROUP BY label
    ), s AS (
      SELECT e.label,
             CAST(round(
               round(list_dot_product(e.embedding::DOUBLE[], c.cent)
                     / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(c.cent, c.cent)), 0), 6)
               * 1000000) AS BIGINT) AS cos6
      FROM embeddings e JOIN c USING (label)
    )
    SELECT label, COUNT(*) AS n_vecs,
           round(CAST(SUM(cos6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_cos,
           round(CAST(MIN(cos6) AS DOUBLE) / 1000000.0, 6) AS min_cos
    FROM s GROUP BY label
    """,
)
def label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-data quality check over the labeled embedding corpus:
    per-label centroids (scaled-int64 exact means, the kmeans update
    machinery without iteration), then each vector's cosine to its OWN
    label centroid, aggregated to per-label mean/min coherence — low
    coherence flags mislabeled or heterogeneous classes before
    training. Broadcast centroids, one narrow scoring pass, scaled-int
    aggregation keeps every number engine-exact."""
    from knime_core_columnar_spark.operators.similarity import dot, l2_norm

    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("d", "x")
    ).select(
        "label",
        "d",
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("long").alias("x6"),
    )
    per_dim = dims.groupBy("label", "d").agg(
        F.round(
            F.sum("x6").cast("double") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
        ).alias("m")
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("cent")
    )
    scored = e.join(F.broadcast(cents), "label").select(
        "label",
        F.round(
            F.round(
                dot(F.col("embedding"), F.col("cent"))
                / F.nullif(
                    l2_norm(F.col("embedding")) * F.sqrt(dot(F.col("cent"), F.col("cent"))),
                    F.lit(0.0),
                ),
                6,
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("cos6"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("cos6").cast("double") / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
            6,
        ).alias("avg_cos"),
        F.round(F.min("cos6").cast("double") / F.lit(1_000_000.0), 6).alias(
            "min_cos"
        ),
    )


def _pq_oracle_sql(m: int = 4, d: int = 16, ks: int = 16, k: int = 5) -> str:
    """Unrolled PQ encode + ADC oracle: per subspace j, codes are the
    argmin of x·x + c·c − 2·x·c over the hash-sampled codebook (the
    identical float expression tree the numpy kernels accumulate —
    similarity._sq_dist_terms); the ADC distance is the fixed-order sum
    lut0 + lut1 + … — left-associative in SQL exactly as the kernel's
    j-loop accumulates."""
    def sl(col: str, j: int) -> str:  # 1-based inclusive DuckDB slice
        return f"({col})[{j * d + 1}:{(j + 1) * d}]"

    enc = ",\n".join(
        f"""
    enc{j} AS (
      SELECT vec_id, code_id FROM (
        SELECT e.vec_id, s.code_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.xs, e.xs) + list_dot_product(s.cs, s.cs)
                 - 2 * list_dot_product(e.xs, s.cs), s.code_id) AS rk
        FROM (SELECT vec_id, {sl('embedding::DOUBLE[]', j)} AS xs FROM embeddings) e,
             (SELECT code_id, {sl('c', j)} AS cs FROM seeds) s
      ) WHERE rk = 1
    )"""
        for j in range(m)
    )
    lut = ",\n".join(
        f"""
    lut{j} AS (
      SELECT q.vec_id AS query_id, s.code_id,
             list_dot_product(q.qs, q.qs) + list_dot_product(s.cs, s.cs)
             - 2 * list_dot_product(q.qs, s.cs) AS v
      FROM (SELECT vec_id, {sl('embedding::DOUBLE[]', j)} AS qs
            FROM embeddings WHERE vec_id < {k}) q,
           (SELECT code_id, {sl('c', j)} AS cs FROM seeds) s
    )"""
        for j in range(m)
    )
    enc_joins = "\n      ".join(
        f"JOIN enc{j} e{j} USING (vec_id)" for j in range(1, m)
    )
    lut_joins = "\n      ".join(
        f"JOIN lut{j} l{j} ON l{j}.code_id = e{j}.code_id "
        f"AND l{j}.query_id = l0.query_id"
        for j in range(1, m)
    )
    dist = " + ".join(f"l{j}.v" for j in range(m))
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code_id, c
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS c,
               ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '|pq-codebook'), 1, 15))::BIGINT
                 % 10000 AS h
        FROM embeddings
      ), nn
      WHERE h <= least(10000, CAST(floor({4 * ks * 10000}.0 / n + 0.5) AS BIGINT))
      ORDER BY h, vec_id LIMIT {ks}
    ),
    {enc},
    {lut},
    scored AS (
      SELECT l0.query_id, e0.vec_id AS neighbor_id, {dist} AS dist
      FROM enc0 e0
      {enc_joins}
      JOIN lut0 l0 ON l0.code_id = e0.code_id
      {lut_joins}
      WHERE e0.vec_id != l0.query_id
    )
    SELECT query_id, neighbor_id, round(dist, 6) AS approx_dist, rank FROM (
      SELECT query_id, neighbor_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("pq_topk_adc", _pq_oracle_sql())
def pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_train/pq_encode/pq_topk):
    hash-sampled 4x16 codebooks over the 64-dim embeddings, corpus
    encoded to 4 small-int codes/row (16x smaller than the float
    vectors), 5 queries scored in the compressed domain via per-query
    ADC lookup tables. The ENTIRE pipeline — sampling, per-subspace
    argmin encode, fixed-order ADC sums, top-k — is unrolled in the SQL
    oracle and value-checked including the float distances: the kernels
    accumulate per-dimension sequentially (_sq_dist_terms) precisely so
    the doubles are bit-identical to list_dot_product arithmetic."""
    from knime_core_columnar_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_train(
        e, m=4, ks=16, corpus_count=_table_meta(spark, sf_dir, "embeddings").rows
    )
    codes = pq_encode(e, cb)
    out = pq_topk(codes, e.filter("vec_id < 5"), cb, k=5)
    return out.select(
        "query_id", "neighbor_id",
        F.round("approx_dist", 6).alias("approx_dist"), "rank",
    )


HYBRID_SEARCH_RRF_ORACLE = """
    WITH qd AS (
      SELECT doc_id AS query_id,
             list_distinct(list_filter(
               string_split_regex(trim(coalesce(text, '')), '\\s+'),
               w -> w <> '')) AS qw
      FROM documents WHERE doc_id IN (3, 47, 205)
    ),
    dw AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(trim(coalesce(text, '')), '\\s+'),
               w -> w <> '')) AS dw
      FROM documents
    ),
    lexs AS (
      SELECT query_id, doc_id, len(list_intersect(dw, qw)) AS ov
      FROM dw, qd WHERE len(list_intersect(dw, qw)) > 0
    ),
    lex AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ov DESC, doc_id) AS lex_rank
        FROM lexs
      ) WHERE lex_rank <= 25
    ),
    qv AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings WHERE vec_id IN (3, 47, 205)
    ),
    vs AS (
      SELECT qv.query_id, e.vec_id AS doc_id,
             round(list_dot_product(qv.v, e.embedding::DOUBLE[])
               / (qv.nrm * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[]))), 6)
               AS cos
      FROM embeddings e, qv WHERE e.vec_id <> qv.query_id
    ),
    vec AS (
      SELECT query_id, doc_id, vec_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, doc_id) AS vec_rank
        FROM vs
      ) WHERE vec_rank <= 25
    ),
    fused AS (
      SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
             coalesce(lex.doc_id, vec.doc_id) AS doc_id,
             lex.lex_rank, vec.vec_rank,
             CAST(coalesce(1000000 // (60 + lex.lex_rank), 0)
                  + coalesce(1000000 // (60 + vec.vec_rank), 0) AS BIGINT)
               AS rrf_scaled
      FROM lex FULL OUTER JOIN vec
        ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id
    )
    SELECT query_id, doc_id, lex_rank, vec_rank, rrf_scaled, fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_scaled DESC, doc_id)
                  AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
"""


@query("hybrid_search_rrf", HYBRID_SEARCH_RRF_ORACLE)
def _hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (operators.similarity.rrf_hybrid_topk): term-overlap list ⊕ cosine
    list, integer micro-unit fusion; cosine rounded exactly like the
    driver-green ann_topk family."""
    from knime_core_columnar_spark.operators.similarity import rrf_hybrid_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return rrf_hybrid_topk(d, e, [3, 47, 205], k=10, n_per_system=25)


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
def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def _embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding covariance matrix, long-form upper triangle
    (operators.similarity.embedding_covariance): int64 micro-unit
    products summed as decimal(38,0) — engine/partitioning-exact; the
    d-row/d²-row aggregates are the distributed step of PCA
    (pca_project runs numpy eigh on this dimension-sized result)."""
    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_t(spark, sf_dir, "embeddings"))


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
def _retrieval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def _rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def _contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _bitext_oracle() -> str:
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
def _bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
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

"""Round-6 staged queries.

Split from the monolithic catalog.py (round 6); registration
order is preserved by the package __init__ import sequence.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.table import ColumnarTable, RowIdPolicy

from knime_core_columnar_spark.catalog._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    _table_meta,
    _t,
)

# ---------------------------------------------------------------------------
# Round-6 query section (driver-registered since the round-5 flip; the
# staging gates were removed in the round-7 flat-registry refactor).
# ---------------------------------------------------------------------------

HEAVY_HITTER_TOKENS_ORACLE = """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM toks WHERE token <> ''
    GROUP BY token
    HAVING COUNT(*) >= greatest(20, (SELECT COUNT(*) FROM documents) // 12)
"""


def _r6_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy-hitter tokens via Misra-Gries + exact recount
    (operators.sketch.top_tokens_exact): the sketch pass bounds state at
    'capacity' rows/partition; the recount makes the output exactly the
    oracle's GROUP BY ... HAVING. Threshold scales with corpus size so
    the same query is sound at every sf."""
    from knime_core_columnar_spark.operators.sketch import top_tokens_exact

    d = _t(spark, sf_dir, "documents")
    min_count = max(20, _table_meta(spark, sf_dir, "documents").rows // 12)
    return top_tokens_exact(d, min_count=min_count, capacity=8192)


def _fingerprint_oracle_part(table: str, cols: list[str]) -> str:
    canon = lambda c: (  # noqa: E731
        f"coalesce(CAST({c} AS VARCHAR), chr(0)||'NULL'||chr(0))"
    )
    h60 = lambda e: f"('0x' || substring(md5({e}),1,15))::BIGINT"  # noqa: E731
    cksum = lambda e: (  # noqa: E731
        f"CAST(CAST(SUM(CAST({e} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        f" % 1000000007 AS BIGINT)"
    )
    rowcat = "concat_ws(chr(31)," + ",".join(canon(c) for c in cols) + ")"
    parts = [
        f"SELECT '{table}' AS table_name, '__table__' AS part,"
        f" COUNT(*) AS n_nulls, coalesce({cksum(h60(rowcat))}, 0) AS checksum"
        f" FROM {table}"
    ]
    for c in cols:
        parts.append(
            f"SELECT '{table}', '{c}',"
            f" CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
            f" coalesce({cksum(h60(canon(c)))}, 0) FROM {table}"
        )
    return " UNION ALL ".join(parts)


_FP_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
    "o_orderpriority",
]
_FP_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_linenumber", "l_shipdate", "l_returnflag",
]

TABLE_CHECKSUMS_ORACLE = (
    _fingerprint_oracle_part("orders", _FP_ORDERS_COLS)
    + " UNION ALL "
    + _fingerprint_oracle_part("lineitem", _FP_LINEITEM_COLS)
)


def _r6_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent replication-audit checksums
    (operators.relational.table_fingerprint) over the engine-stable
    column types of orders+lineitem — the compare-100TB-tables-by-
    kilobytes primitive. One partial-agg scan per table."""
    from knime_core_columnar_spark.operators.relational import table_fingerprint

    o = _t(spark, sf_dir, "orders").select(*_FP_ORDERS_COLS)
    li = _t(spark, sf_dir, "lineitem").select(*_FP_LINEITEM_COLS)
    return (
        table_fingerprint(o)
        .select(F.lit("orders").alias("table_name"), "part", "n_nulls", "checksum")
        .unionByName(
            table_fingerprint(li).select(
                F.lit("lineitem").alias("table_name"),
                "part", "n_nulls", "checksum",
            )
        )
    )


COPURCHASE_TRIANGLES_ORACLE = """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT nodes.node AS part_id,
           CAST(coalesce(pn.n, 0) AS BIGINT) AS n_triangles
    FROM nodes LEFT JOIN pn USING (node)
"""


def _r6_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts of the co-purchase graph (parts sharing an order)
    via operators.graph.triangle_counts — degree-oriented wedge join, so
    a hub part generates O(m^1.5) wedges instead of deg². The triad set
    is orientation-invariant, hence the plain id-ordered oracle."""
    from knime_core_columnar_spark.operators.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return triangle_counts(edges).select(
        F.col("node").alias("part_id"), "n_triangles"
    )


DUPLICATE_SPAN_PROFILE_ORACLE = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), x -> x <> '') AS l
      FROM documents
    ),
    anchors AS (
      SELECT doc_id, l, i
      FROM w, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) t
      WHERE i = 1
         OR ('0x' || substring(md5(l[CAST(i AS INT)]), 1, 15))::BIGINT % 8 = 0
    ),
    spans AS (
      SELECT doc_id,
             substring(md5(array_to_string(
               l[CAST(i AS INT):CAST(i + 15 AS INT)], ' ')), 1, 16) AS h
      FROM anchors
    ),
    counts AS (SELECT h, COUNT(*) AS c FROM spans GROUP BY h)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM spans JOIN counts USING (h)
    GROUP BY doc_id
"""


def _r6_duplicate_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate profile (operators.dedup.duplicate_spans):
    content-defined anchors (word-hash ≡ 0 mod 8) make shifted copies
    line up; only (doc_id, span-hash) pairs shuffle."""
    from knime_core_columnar_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, window_words=16, anchor_stride=8)


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


def _r6_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (operators.similarity.rrf_hybrid_topk): term-overlap list ⊕ cosine
    list, integer micro-unit fusion; cosine rounded exactly like the
    driver-green ann_topk family."""
    from knime_core_columnar_spark.operators.similarity import rrf_hybrid_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return rrf_hybrid_topk(d, e, [3, 47, 205], k=10, n_per_system=25)


# Direct registration (round-7 refactor: the staged-batch dicts and
# register_rX_queries() gating are gone — every section registers at
# import, and catalog/rotation.py orders the driver window).
QUERIES["heavy_hitter_tokens"] = _r6_heavy_hitter_tokens
ORACLES["heavy_hitter_tokens"] = HEAVY_HITTER_TOKENS_ORACLE
QUERIES["table_checksums"] = _r6_table_checksums
ORACLES["table_checksums"] = TABLE_CHECKSUMS_ORACLE
QUERIES["copurchase_triangles"] = _r6_copurchase_triangles
ORACLES["copurchase_triangles"] = COPURCHASE_TRIANGLES_ORACLE
QUERIES["duplicate_span_profile"] = _r6_duplicate_span_profile
ORACLES["duplicate_span_profile"] = DUPLICATE_SPAN_PROFILE_ORACLE
QUERIES["hybrid_search_rrf"] = _r6_hybrid_search_rrf
ORACLES["hybrid_search_rrf"] = HYBRID_SEARCH_RRF_ORACLE

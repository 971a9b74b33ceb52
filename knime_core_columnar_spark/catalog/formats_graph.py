"""Avro interop + graph/sequence analytics (round-4 batch).

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
    _artifact_tag,
    _ensure_pkg_on_executors,
    _publish_dir,
    _table_meta,
    _t,
    _tw,
    query,
)

# ---------------------------------------------------------------------------
# Avro source/sink (SURVEY §2.4 — the one remaining format gap; the
# spark-avro jar is absent from this container, so the pure-Python
# container codec in sources/avro.py carries the roundtrip)
# ---------------------------------------------------------------------------

@query(
    "avro_roundtrip",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS _row_key,
           c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity Avro container roundtrip: customer exported once to
    deflate-compressed .avro (one file per partition, encoded
    executor-side), read back through ``read_avro`` — which, with no
    spark-avro jar in this container, exercises the pure-Python Avro 1.11
    decoder's distributed tier (binaryFile + per-file mapInPandas decode,
    sources/avro.py). Longs/doubles/strings are binary-exact through the
    Avro wire format, so the result hashes identically to the parquet
    oracle."""
    import os

    from knime_core_columnar_spark.sources.avro import write_avro
    from knime_core_columnar_spark.sources.io import read_avro

    _ensure_pkg_on_executors(spark)
    tag = _artifact_tag(sf_dir, "customer")
    avro_dir = f"/tmp/kccs_customer_avro_{tag}"
    if not os.path.isdir(avro_dir):
        staging = f"{avro_dir}.part{os.getpid()}"
        write_avro(_t(spark, sf_dir, "customer"), staging, codec="deflate")
        _publish_dir(staging, avro_dir)
    t = read_avro(spark, avro_dir, key_columns=["c_custkey"])
    return t.df.select(
        "_row_key", "c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Graph + sequence analytics (round-4 batch; registered AFTER the driver
# window, so these queue for the round-5/6 correctness windows)
# ---------------------------------------------------------------------------

@query(
    "event_transitions",
    """
    WITH p AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM p WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), t AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1
    )
    SELECT c.from_type, c.to_type, c.n,
           CAST(c.n AS DOUBLE) / t.tot AS prob
    FROM c JOIN t ON t.from_type = c.from_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the standard behavioral
    model input. One window pass (lead over user-partitioned,
    (ts, event_id)-tie-broken order — the window shuffle partitions by
    user, so it scales with user cardinality, never a global sort),
    then a tiny (|types|² ≤ 25-row) aggregate; the totals join runs on
    that aggregate, not on the fact table. The probability is one int÷int
    IEEE division — identical operands on both engines, so hash-exact."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return counts.join(totals, "from_type").select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double") / F.col("tot")).alias("prob"),
    )


_NEARDUP_EDGE_CTE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), mh AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(s, x ->
                 ((2*i + 1) * (('0x' || substring(md5(x), 1, 15))::BIGINT % 2147483647)
                  + 104729 * i) % 2147483647))) AS sig
      FROM sh
    ), bands AS (
      SELECT doc_id, b,
             md5(CAST(b AS VARCHAR) || '|' || array_to_string(sig[b*4+1:b*4+4], ',')) AS key
      FROM mh, (SELECT unnest(range(0, 4)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    ), verified AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
                JOIN sh sb ON sb.doc_id = cand.id_b
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified
    )
"""

_PAGERANK_ITER_SQL = """
    r{k} AS (
      SELECT n.node,
             150000 + COALESCE(CAST(SUM(
               (prev.rank * 85) // (d.outdeg * 100)) AS BIGINT), 0) AS rank
      FROM nodes n
      LEFT JOIN e ON e.b = n.node
      LEFT JOIN r{km1} prev ON prev.node = e.a
      LEFT JOIN deg d ON d.node = e.a
      GROUP BY n.node
    )
"""


@query(
    "neardup_pagerank",
    _NEARDUP_EDGE_CTE
    + """
    , nodes AS (SELECT DISTINCT a AS node FROM e),
    deg AS (SELECT a AS node, COUNT(*) AS outdeg FROM e GROUP BY a),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
    """
    + ",".join(
        _PAGERANK_ITER_SQL.format(k=k, km1=k - 1) for k in (1, 2, 3)
    )
    + """
    SELECT node AS doc_id, rank FROM r3
    """,
)
def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality inside the near-duplicate graph: 3 supersteps of
    integer-scaled PageRank (operators/graph.py) over the verified LSH
    near-dup pairs — the canonical-copy-selection signal that degree
    alone misses (a doc bridging two dup clusters outranks a leaf).

    Integer micro-unit arithmetic makes the recurrence bit-identical in
    Spark and DuckDB (float PageRank is reduction-order-dependent and
    cannot be hash-compared). The oracle replays the same 3 unrolled
    iterations in SQL over the same recursive-CTE edge derivation used
    by neardup_clusters. Per superstep only (dst, int64) pairs shuffle;
    the LSH edge subtree is materialized once, not once per round."""
    from knime_core_columnar_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    # r11: wide candidates, serial verify — the signature pass is the
    # compute-heavy side (shingles x 16 perm hashes per token) so it
    # gets the widened scan; the verify pass touches only LSH-survivor
    # docs (semi-join gate), where a full-text repartition costs more
    # than it parallelizes (measured: wide/wide 1.86 s, serial/serial
    # 2.11 s, wide-cand/serial-verify 1.64 s at sf0.1)
    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(_tw(spark, sf_dir, "documents"), "doc_id", "text", num_perm=16, bands=4)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b")
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    ranks = pagerank_scaled(sym, "src", "dst", iterations=3,
                            symmetric=True)
    return ranks.select(F.col("node").alias("doc_id"), "rank")


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

    _ensure_pkg_on_executors(spark)
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


def _zorder_oracle_sql() -> str:
    from knime_core_columnar_spark.operators.layout import zvalue_sql

    return f"""
    SELECT event_id, user_id,
           {zvalue_sql(['user_id', 'event_id'], bits=16)} AS zval
    FROM events
    """


@query("zorder_layout", _zorder_oracle_sql())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, event_id) — the
    multi-dimensional file-skipping layout lever (operators/layout.py:
    Delta's OPTIMIZE ZORDER BY technique, here as plain Catalyst bit
    arithmetic). ``zorder_repartition`` range-partitions on this key so
    every parquet file covers a compact hyper-rectangle and min/max
    stats prune scans on EITHER column; this query oracle-checks the key
    itself — the SQL oracle is generated from the same ``zvalue_sql``
    the equivalence test pins against the Column form, then evaluated by
    an independent engine. Exact integer bit ops: hash-identical by
    construction."""
    from knime_core_columnar_spark.operators.layout import zvalue

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id",
        zvalue(["user_id", "event_id"], bits=16).alias("zval"),
    )



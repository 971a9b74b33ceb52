"""Round-2 widening (part 2): profiling, ML-lite, binning, monitors.

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
    _dec,
    _ensure_pkg_on_executors,
    _table_meta,
    _t,
    _tw,
    query,
)

@query(
    "column_profile",
    """
    SELECT 'l_quantity' AS column_name, COUNT(*) AS n,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*),
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the KNIME Statistics node): per numeric column
    — row count, null count, exact distinct count, min/max — computed
    in ONE grouping-sets-free pass per column batch via a single
    aggregation emitting every column's stats, then unpivoted to the
    long profiling layout. One scan for all profiled columns."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    agg = li.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").alias("n"),
                (F.col("__n") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_v"),
                F.col(f"mx_{c}").alias("max_v"),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "user_lifetime_stats",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(ts) AS first_seen,
           MAX(ts) AS last_seen,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS span_days,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime/engagement profile (the sessionization
    family's roll-up view): event counts, first/last seen, distinct
    active days vs calendar span, decimal-exact lifetime value. One
    partial-aggregated pass; count-distinct of the day expands to the
    standard two-phase distinct aggregate."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        F.datediff(F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))).alias(
            "span_days"
        ),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@query(
    "rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), TIMESTAMP '2002-01-01') AS recency,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT CAST(quantile_cont(recency, 0.5) AS DOUBLE) AS r_med,
             CAST(quantile_cont(frequency, 0.5) AS DOUBLE) AS f_med,
             CAST(quantile_cont(monetary, 0.5) AS DOUBLE) AS m_med
      FROM rfm
    )
    SELECT (CASE WHEN recency <= r_med THEN 'R1' ELSE 'R0' END
            || CASE WHEN frequency > f_med THEN 'F1' ELSE 'F0' END
            || CASE WHEN monetary > m_med THEN 'M1' ELSE 'M0' END) AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(mon_dec) AS DOUBLE) AS segment_value
    FROM rfm, q GROUP BY 1
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    median splits — the classic marketing-analytics workflow KNIME
    builds from GroupBy + Auto-Binner + Rule Engine nodes, as one
    query): per-customer RFM from one orders aggregation, exact-median
    fences broadcast back, 8 segments with counts and value. The
    monetary sums are decimal-exact, so segment_value is
    engine-identical."""
    o = _t(spark, sf_dir, "orders")
    # monetary rides in BOTH forms: double for the median fence /
    # segment compare, decimal for the outer sum (a double sum over a
    # segment would be summation-order-dependent across engines)
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("timestamp_ntz"), F.max("o_orderdate")
        ).alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("mon_dec"),
        F.sum(_dec("o_totalprice")).cast("double").alias("monetary"),
    )
    q = rfm.agg(
        F.percentile("recency", F.lit(0.5)).alias("r_med"),
        F.percentile("frequency", F.lit(0.5)).alias("f_med"),
        F.percentile("monetary", F.lit(0.5)).alias("m_med"),
    )
    seg = F.concat(
        F.when(F.col("recency") <= F.col("r_med"), "R1").otherwise("R0"),
        F.when(F.col("frequency") > F.col("f_med"), "F1").otherwise("F0"),
        F.when(F.col("monetary") > F.col("m_med"), "M1").otherwise("M0"),
    )
    return (
        rfm.crossJoin(F.broadcast(q))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("mon_dec").cast("double").alias("segment_value"),
        )
    )


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


@query(
    "tokenize_to_ids",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    ), c AS (
      SELECT token, COUNT(*) AS cnt FROM t GROUP BY token HAVING COUNT(*) >= 5
    ), v AS (
      SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS token_id
      FROM c
    ), w AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token,
             generate_subscripts(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), 1) AS pos
      FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           string_agg(CAST(COALESCE(token_id, -1) AS VARCHAR), ',' ORDER BY pos)
             AS token_ids
    FROM w LEFT JOIN v USING (token)
    GROUP BY doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained vocabulary (text.build_vocab) to the corpus —
    the tokenize-to-ids step that turns documents into the integer
    sequences a training run consumes: per doc, the ordered token-id
    array (OOV → -1), token count, and OOV count. Scale shape: explode
    → broadcast-join the vocab (AQE; vocab ≪ corpus) → one per-doc
    collect of (pos, id) structs sorted positionally — ids identical at
    any parallelism because the vocab ids themselves are deterministic.
    The id sequence is serialized to a CSV string (the collect_sorted
    pattern): the harness canonicalizer sorts rows with pandas, which
    cannot hash list cells, so a raw array column would not be
    value-checkable."""
    from knime_core_columnar_spark.operators.text import build_vocab, tokens

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d, "text", min_count=5).select("token", "token_id")
    w = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )
    j = w.join(F.broadcast(vocab), "token", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("token_id").isNull().cast("int")).alias("n_oov"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos", F.coalesce("token_id", F.lit(-1)).alias("tid")
                        )
                    )
                ),
                lambda s: s["tid"].cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


@query(
    "audio_stats",
    """
    WITH p AS (
      SELECT doc_id, encode(text) AS payload,
             octet_length(encode(text)) AS n
      FROM documents
    ), h AS (
      SELECT doc_id, n,
             list_transform(range(1, least(n, 256) + 1),
                            i -> ('0x' || substring(hex(payload), (i-1)*2 + 1, 2))::INT)
               AS head
      FROM p
    )
    SELECT doc_id,
           CAST(n // 2 AS BIGINT) AS n_samples,
           round(CAST(n // 2 AS DOUBLE) / 16000.0, 6) AS duration_s,
           round(CAST(list_sum(head) AS DOUBLE) / len(head), 6) AS mean_amp,
           CAST(list_max(head) AS INTEGER) AS peak_amp
    FROM h
    """,
)
def audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-tier multimodal plumbing (operators.multimodal
    .decode_audio_features): binary payloads through the Arrow-batched
    mapInPandas decode — treated as int16 PCM @ 16 kHz by the
    deterministic fake kernel (the marked swap-in point for
    soundfile/librosa) — yielding sample counts, durations, and
    amplitude stats, every value checked against the oracle's hex-byte
    replay."""
    from knime_core_columnar_spark.operators.multimodal import (
        attach_binary_payload,
        decode_audio_features,
    )

    _ensure_pkg_on_executors(spark)
    d = attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    return decode_audio_features(d, "doc_id", "payload")


@query(
    "quality_monitor_batch",
    """
    WITH d AS (
      SELECT source,
             TIMESTAMP '1970-01-01 00:00:00'
               + (1700000000 + doc_id * 60) * INTERVAL 1 SECOND AS ts,
             CAST(length(text) AS DOUBLE) AS n,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ntok,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
               / length(text) AS pr
      FROM documents
    ), q AS (
      SELECT source, date_trunc('hour', ts) AS win_start, ntok,
             CAST(round((
               (CASE WHEN n < 20 THEN n / 20.0 WHEN n > 4000 THEN 0.5 ELSE 1.0 END) * 0.4
               + (1.0 - least(pr * 5.0, 1.0)) * 0.3
               + (CASE WHEN n / ntok >= 3.0 AND n / ntok <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.3
             ) * 1000000) AS BIGINT) AS q6
      FROM d
    )
    SELECT win_start, source, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           round(CAST(SUM(q6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_quality,
           CAST(SUM(CASE WHEN q6 < 800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
    FROM q GROUP BY win_start, source
    """,
)
def quality_monitor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming corpus-quality monitor
    (streaming.corpus_quality_monitor) run in batch mode — the SAME
    code executes as a readStream in production; here the driver
    value-checks it against SQL (1-hour tumbling windows align to epoch
    hours, so the oracle's date_trunc replays Spark's window()). The
    stream/batch parity itself is pinned by
    test_corpus_quality_monitor_stream_matches_batch."""
    from knime_core_columnar_spark.streaming.ops import corpus_quality_monitor

    # tz-free synthetic event time (NTZ + interval arithmetic): neither
    # side of the oracle comparison may depend on a session timezone
    d = _t(spark, sf_dir, "documents").withColumn(
        "ts",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        + F.make_interval(
            secs=(F.lit(1_700_000_000) + F.col("doc_id") * 60).cast("decimal(18,6)")
        ),
    )
    return corpus_quality_monitor(d, window="1 hour", watermark=None)


@query(
    "anomaly_hours",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nh,
             CAST(SUM(n) AS DOUBLE) AS s,
             CAST(SUM(n * n) AS DOUBLE) AS sq
      FROM h GROUP BY event_type
    )
    SELECT event_type, hour, n,
           round((n - s / nh)
                 / nullif(sqrt((nh * sq - s * s) / (nh * (nh - 1))), 0), 6) AS z
    FROM h JOIN m USING (event_type)
    WHERE abs((n - s / nh)
              / nullif(sqrt((nh * sq - s * s) / (nh * (nh - 1))), 0)) > 2.0
    """,
)
def anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per event type,
    z-scored against that type's own distribution (exact integer moment
    sums → closed-form mean/stddev), hours beyond 2σ flagged — the
    monitoring query a pipeline runs over ingestion telemetry. Two
    partial-aggregated passes (hourly rollup, per-type moments) and a
    broadcast join back; integer moments make the flags engine-exact.
    The hourly rollup IS streaming.hourly_counts (one shared
    definition with the events_hourly monitoring query, ntz-typed) —
    the z-scores flag the same series the dashboards show."""
    from knime_core_columnar_spark.streaming.ops import hourly_counts

    e = _t(spark, sf_dir, "events")
    h = hourly_counts(e).withColumnRenamed("hr", "hour")
    m = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum("n").cast("double").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("sq"),
    )
    nh, s, sq = F.col("nh"), F.col("s"), F.col("sq")
    z = (F.col("n") - s / nh) / F.nullif(
        F.sqrt((nh * sq - s * s) / (nh * (nh - 1))), F.lit(0.0)
    )
    return (
        h.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_type", "hour", "n", F.round(z, 6).alias("z"))
    )


@query(
    "entity_resolution",
    """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[-1] AS block FROM part
    ), pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM p a JOIN p b ON a.block = b.block AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.a, reach.label FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, MIN(label) AS entity FROM reach GROUP BY node
    ), assign AS (
      SELECT p.p_partkey, COALESCE(comp.entity, p.p_partkey) AS entity_id
      FROM p LEFT JOIN comp ON comp.node = p.p_partkey
    )
    SELECT entity_id, COUNT(*) AS n_records
    FROM assign GROUP BY entity_id HAVING COUNT(*) > 1
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage end-to-end, TWO-TIER:

    1. EXACT tier — identical names collapse to one representative per
       name (min p_partkey) with a single hash aggregation. Identical
       rows are the bulk of real duplicate mass, and every same-name
       pair trivially verifies (lev = 0), so carrying them into the
       fuzzy tier would square the edge count for nothing (measured at
       sf0.1: 5.5 M part-level edges vs 24 distinct-name edges).
    2. FUZZY tier — blocking (last name token) → length-gap pre-filter
       (lev >= |Δlen|) → THRESHOLDED Levenshtein (banded DP, early exit;
       returns -1 past the threshold so >= 0 <=> lev <= 2) →
       connected components over the REPRESENTATIVE graph (same
       min-label propagation as the near-dup pipeline).

    The collapse is exact, not an approximation: same-name records form
    cliques in the record-level graph, so contracting each clique to
    its min-id node preserves components and the min-id entity label.
    At 100 TB the exact tier is one shuffle on the join key and the
    fuzzy tier's cost scales with DISTINCT values, not rows — when all
    names are unique it degenerates to the original record-level plan.
    Output: multi-record entities with sizes — the merge queue a data
    steward reviews. Oracle replays the closure as a recursive CTE over
    record-level pairs — a different evaluation strategy validating
    both the Spark loop and the clique contraction."""
    from knime_core_columnar_spark.operators.dedup import connected_components

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    names = p.groupBy("p_name", "block").agg(
        F.min("p_partkey").alias("rep"), F.count(F.lit(1)).alias("cnt")
    )
    a = names.select(
        F.col("rep").alias("id_a"), F.col("p_name").alias("name_a"), "block"
    )
    b = names.select(
        F.col("rep").alias("id_b"), F.col("p_name").alias("name_b"), "block"
    )
    pairs = (
        a.join(b, ["block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        .filter(F.levenshtein("name_a", "name_b", 2) >= 0)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b")
    name_entity = names.join(comp, names["rep"] == comp["node"], "left").select(
        "p_name", F.coalesce(F.col("label"), F.col("rep")).alias("entity_id")
    )
    assign = p.join(name_entity, "p_name").select("p_partkey", "entity_id")
    return (
        assign.groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


@query(
    "incremental_agg_merge",
    """
    WITH base AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
      GROUP BY o_orderpriority
    ), delta AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY o_orderpriority
    ), merged AS (
      SELECT o_orderpriority,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(s) AS s
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           CAST(s AS DOUBLE) AS total_price,
           round(CAST(s AS DOUBLE) / n, 6) AS avg_price
    FROM merged
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the mergeable-partials
    pattern every incremental ETL relies on: a historical partial
    aggregate (count + decimal-exact sum per key) merged with a fresh
    delta partition's partials WITHOUT re-scanning history. Count and
    sum are mergeable; avg derives at read time from the merged
    moments. The oracle recomputes the same merge; equality proves the
    partials lose nothing."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum(_dec("o_totalprice")).alias("s")
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("s").cast("double").alias("total_price"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_price"),
    )


@query(
    "token_shards",
    """
    WITH ordered AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '|epoch0') AS h,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM ordered
    )
    SELECT CAST(prefix // 5000 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM c GROUP BY prefix // 5000
    """,
)
def token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment — the greedy sharding pass that
    splits a shuffled corpus into ~5000-token output shards:
    shard = exclusive-prefix-token-sum // budget over the stable
    epoch-shuffle order. The prefix sum comes from
    sampling.distributed_cumsum (two-phase scan: per-partition totals →
    broadcast offsets → local running sums) — exact integer math,
    identical to the oracle's single ``SUM() OVER`` window but WITHOUT
    funnelling 100 TB through one reducer."""
    from knime_core_columnar_spark.operators.sampling import distributed_cumsum
    from knime_core_columnar_spark.operators.text import token_count

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("epoch0"))).alias("h"),
            token_count("text").cast("long").alias("n_tokens"),
        )
    )
    c = distributed_cumsum(
        d,
        [F.col("h"), F.col("doc_id")],
        F.col("n_tokens"),
        out_col="prefix",
        exclusive=True,
    )
    return (
        # integer division (div), NOT double /: exact at any prefix size
        c.withColumn("shard_id", F.expr("prefix div 5000"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
    )


@query(
    "correlation_matrix",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sq_p,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sq_d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_qp,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_qd,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_pd
      FROM lineitem
    )
    SELECT 'quantity' AS var_a, 'extendedprice' AS var_b,
           round((n * s_qp - s_q * s_p)
                 / nullif(sqrt(n * sq_q - s_q * s_q) * sqrt(n * sq_p - s_p * s_p), 0), 6) AS corr
    FROM m
    UNION ALL
    SELECT 'quantity', 'discount',
           round((n * s_qd - s_q * s_d)
                 / nullif(sqrt(n * sq_q - s_q * s_q) * sqrt(n * sq_d - s_d * s_d), 0), 6)
    FROM m
    UNION ALL
    SELECT 'extendedprice', 'discount',
           round((n * s_pd - s_p * s_d)
                 / nullif(sqrt(n * sq_p - s_p * s_p) * sqrt(n * sq_d - s_d * s_d), 0), 6)
    FROM m
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (the KNIME Linear Correlation
    node): ALL pairwise correlations of the selected numeric columns
    from ONE aggregation pass — 9 decimal-exact moment sums, then each
    pair's closed form in doubles. One scan however many variables;
    long-form output (var_a, var_b, corr)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p, d = _dec("l_quantity"), _dec("l_extendedprice"), _dec("l_discount")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("s_q"),
        F.sum(p).cast("double").alias("s_p"),
        F.sum(d).cast("double").alias("s_d"),
        F.sum(q * q).cast("double").alias("sq_q"),
        F.sum(p * p).cast("double").alias("sq_p"),
        F.sum(d * d).cast("double").alias("sq_d"),
        F.sum(q * p).cast("double").alias("s_qp"),
        F.sum(q * d).cast("double").alias("s_qd"),
        F.sum(p * d).cast("double").alias("s_pd"),
    )
    n = F.col("n")

    def corr(sa, sb, sqa, sqb, sab):
        return F.round(
            (n * F.col(sab) - F.col(sa) * F.col(sb))
            / F.nullif(
                F.sqrt(n * F.col(sqa) - F.col(sa) * F.col(sa))
                * F.sqrt(n * F.col(sqb) - F.col(sb) * F.col(sb)),
                F.lit(0.0),
            ),
            6,
        )

    pairs = F.array(
        F.struct(
            F.lit("quantity").alias("var_a"),
            F.lit("extendedprice").alias("var_b"),
            corr("s_q", "s_p", "sq_q", "sq_p", "s_qp").alias("corr"),
        ),
        F.struct(
            F.lit("quantity").alias("var_a"),
            F.lit("discount").alias("var_b"),
            corr("s_q", "s_d", "sq_q", "sq_d", "s_qd").alias("corr"),
        ),
        F.struct(
            F.lit("extendedprice").alias("var_a"),
            F.lit("discount").alias("var_b"),
            corr("s_p", "s_d", "sq_p", "sq_d", "s_pd").alias("corr"),
        ),
    )
    return m.select(F.explode(pairs).alias("__p")).select(
        "__p.var_a", "__p.var_b", "__p.corr"
    )


@query(
    "equal_freq_binning",
    """
    WITH q AS (
      SELECT CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS q1,
             CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS q2,
             CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE) AS q3
      FROM orders
    )
    SELECT CASE WHEN o_totalprice <= q1 THEN 0
                WHEN o_totalprice <= q2 THEN 1
                WHEN o_totalprice <= q3 THEN 2
                ELSE 3 END AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders, q GROUP BY 1
    """,
)
def equal_freq_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quartile) binning — the KNIME Auto-Binner's
    second mode: exact continuous-interpolation quartiles from one
    aggregate, broadcast back; bin membership by closed upper fences.
    Same percentile machinery the driver already value-checks in
    iqr_outliers."""
    o = _t(spark, sf_dir, "orders")
    q = o.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("q2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    v = F.col("o_totalprice")
    bin_ = (
        F.when(v <= F.col("q1"), 0)
        .when(v <= F.col("q2"), 1)
        .when(v <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(q))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "mad_outliers",
    """
    WITH med AS (
      SELECT l_returnflag, CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS m
      FROM lineitem GROUP BY l_returnflag
    ), mad AS (
      SELECT l_returnflag, m,
             CAST(quantile_cont(abs(l_quantity - m), 0.5) AS DOUBLE) AS mad
      FROM lineitem JOIN med USING (l_returnflag)
      GROUP BY l_returnflag, m
    )
    SELECT l_returnflag, round(m, 6) AS median_qty, round(mad, 6) AS mad_qty,
           COUNT(*) AS n_outliers
    FROM lineitem JOIN mad USING (l_returnflag)
    WHERE abs(l_quantity - m) > 1.4 * mad
    GROUP BY l_returnflag, m, mad
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (the
    robust sibling of iqr_outliers; 1.4·MAD fences fit the synthetic
    tails): two exact-percentile aggregates — median, then median of
    absolute deviations — each broadcast back over the scan. Nested
    robust statistics stay differentially testable because Spark's
    percentile() and DuckDB's quantile_cont interpolate identically."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("m")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    mad = j.groupBy("l_returnflag", "m").agg(
        F.percentile(F.abs(F.col("l_quantity") - F.col("m")), F.lit(0.5)).alias(
            "mad"
        )
    )
    return (
        li.join(F.broadcast(mad), "l_returnflag")
        .filter(F.abs(F.col("l_quantity") - F.col("m")) > 1.4 * F.col("mad"))
        .groupBy("l_returnflag", "m", "mad")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
        .select(
            "l_returnflag",
            F.round("m", 6).alias("median_qty"),
            F.round("mad", 6).alias("mad_qty"),
            "n_outliers",
        )
    )


@query(
    "weighted_sample",
    """
    WITH p AS (
      SELECT doc_id, n_chars,
             -ln(((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 15))::BIGINT
                   % 10000) + 0.5) / 10000.0)
               / CAST(n_chars AS DOUBLE) AS prio
      FROM documents
    )
    SELECT doc_id, n_chars
    FROM p ORDER BY prio, doc_id LIMIT 100
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement
    (operators.sampling.weighted_sample_topk, the A-ExpJ exponential
    race): inclusion probability ∝ n_chars, yet fully deterministic —
    the uniform draw is the stable key hash, so the same corpus always
    yields the same sample at any parallelism. Top-100 by priority via
    per-partition heaps (TakeOrderedAndProject).

    The priority itself is NOT in the compared output: DuckDB's ln()
    differs from the JVM's by 1 ulp (measured), so the float is not
    hash-comparable — but the SELECTED SET is stable because distinct
    priorities differ by many orders of magnitude more than 1 ulp; the
    oracle checks the actual sampled ids."""
    from knime_core_columnar_spark.operators.sampling import weighted_sample_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_topk(d, ["doc_id"], F.col("n_chars"), k=100).select(
        "doc_id", "n_chars"
    )


@query(
    "vocab_build",
    """
    WITH v AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    ), c AS (
      SELECT token, COUNT(*) AS count FROM v GROUP BY token HAVING COUNT(*) >= 5
    )
    SELECT token, count,
           ROW_NUMBER() OVER (ORDER BY count DESC, token) - 1 AS token_id
    FROM c
    """,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed vocabulary construction (operators.text.build_vocab):
    corpus token frequencies with dense frequency-ranked ids — the
    tokenizer-training primitive. Ids come from a range-partitioned
    sort + per-partition offsets (zipWithIndex trick), not a
    single-task global window, so the id assignment distributes for
    very large vocabularies."""
    from knime_core_columnar_spark.operators.text import build_vocab

    d = _t(spark, sf_dir, "documents")
    return build_vocab(d, "text", min_count=5)


@query(
    "kmeans_clusters",
    """
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    seeds AS (
      SELECT vec_id AS cell_id, embedding::DOUBLE[] AS c
      FROM (
        SELECT vec_id, embedding,
               ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '|kmeans-seeds'), 1, 15))::BIGINT
                 % 10000 AS h
        FROM embeddings
      ), nn
      WHERE h <= least(10000, CAST(floor(320000.0 / n + 0.5) AS BIGINT))
      ORDER BY h, vec_id LIMIT 8
    ),
    a1 AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                 + list_dot_product(s.c, s.c)
                 - 2 * list_dot_product(e.embedding::DOUBLE[], s.c), s.cell_id) AS rk
        FROM embeddings e, seeds s
      ) WHERE rk = 1
    ),
    u1 AS (
      SELECT cell_id, d, round(CAST(SUM(x6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS m
      FROM (
        SELECT a1.cell_id,
               generate_subscripts(e.embedding, 1) AS d,
               CAST(round(CAST(unnest(e.embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x6
        FROM embeddings e JOIN a1 USING (vec_id)
      ) GROUP BY cell_id, d
    ),
    c1 AS (SELECT cell_id, list(m ORDER BY d) AS c FROM u1 GROUP BY cell_id),
    a2 AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                 + list_dot_product(s.c, s.c)
                 - 2 * list_dot_product(e.embedding::DOUBLE[], s.c), s.cell_id) AS rk
        FROM embeddings e, c1 s
      ) WHERE rk = 1
    ),
    u2 AS (
      SELECT cell_id, d, round(CAST(SUM(x6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS m
      FROM (
        SELECT a2.cell_id,
               generate_subscripts(e.embedding, 1) AS d,
               CAST(round(CAST(unnest(e.embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x6
        FROM embeddings e JOIN a2 USING (vec_id)
      ) GROUP BY cell_id, d
    ),
    c2 AS (SELECT cell_id, list(m ORDER BY d) AS c FROM u2 GROUP BY cell_id)
    SELECT a2.cell_id, COUNT(*) AS n_members,
           round(sqrt(list_dot_product(any_value(c2.c), any_value(c2.c))), 6)
             AS centroid_norm
    FROM a2 JOIN c2 USING (cell_id)
    GROUP BY a2.cell_id
    """,
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means, k=8, two fixed Lloyd iterations
    (operators.clustering.kmeans_lite — the KNIME k-Means node's
    capability, Spark-first): hash-sampled seeds, broadcast argmin
    assignment, scaled-int64 exact centroid updates. The ENTIRE
    iterative algorithm — both assignments, both updates — is unrolled
    in the oracle and value-checked, demonstrating that fixed-iteration
    ML loops remain differentially testable."""
    from knime_core_columnar_spark.operators.clustering import kmeans_lite

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_lite(
        e, k=8, iters=2, corpus_count=_table_meta(spark, sf_dir, "embeddings").rows
    )


@query(
    "minmax_normalize",
    """
    WITH mm AS (
      SELECT l_returnflag,
             CAST(MIN(l_quantity) AS DOUBLE) AS mn,
             CAST(MAX(l_quantity) AS DOUBLE) AS mx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS _row_key,
           round((l_quantity - mn) / nullif(mx - mn, 0), 6) AS qty_01
    FROM lineitem JOIN mm USING (l_returnflag)
    """,
)
def minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max [0,1] normalization per group (the KNIME Normalizer
    node's min-max mode, sibling of zscore_normalize): exact per-group
    extrema from one partial-aggregated pass, broadcast back; per-row
    scaling is deterministic double arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    mm = li.groupBy("l_returnflag").agg(
        F.min("l_quantity").cast("double").alias("mn"),
        F.max("l_quantity").cast("double").alias("mx"),
    )
    # nullif guard: a constant group (mx == mn) yields NULL in BOTH
    # engines — DuckDB's IEEE division would return Inf/NaN while
    # Spark's returns NULL, a latent oracle divergence otherwise
    return li.join(F.broadcast(mm), "l_returnflag").select(
        F.concat_ws("_", "l_orderkey", "l_linenumber").alias("_row_key"),
        F.round(
            (F.col("l_quantity") - F.col("mn"))
            / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0)),
            6,
        ).alias("qty_01"),
    )


@query(
    "ols_simple_regression",
    """
    WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx) / n, 6)
             AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r2
    FROM m
    """,
)
def ols_simple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple linear regression per group (the KNIME Linear Regression
    learner, univariate case): slope/intercept/R² from decimal-EXACT
    moment sums in one partial-aggregated pass — closed-form doubles,
    bit-stable at any parallelism (same machinery as moment_stats). The
    100 TB path for OLS with one predictor: no gradient iterations, no
    collect."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # nullif guards: constant-x groups give NULL slope/r2 in BOTH
    # engines instead of Spark-NULL-vs-DuckDB-Inf divergence
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / F.nullif((n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


@query(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_7'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 (Suppliers Who Kept Orders Waiting) adapted to the
    synthetic schema: no l_receiptdate/l_commitdate exist, so "late" is
    l_shipdate > o_orderdate + 60 days — the multi-supplier EXISTS /
    sole-late-supplier NOT EXISTS shape is intact. Spark-first: the two
    correlated subqueries collapse into ONE per-order aggregation
    (distinct suppliers, distinct LATE suppliers); a lineitem qualifies
    iff it is late, the order has ≥2 suppliers, and exactly one
    supplier shipped late. One lineitem⋈orders shuffle, one per-order
    agg joined back, supplier/nation broadcast, TakeOrdered top-100 —
    no semi/anti join pair over the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    lo = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    qualifying = (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        qualifying.join(
            F.broadcast(s.join(n, s["s_nationkey"] == n["n_nationkey"])),
            qualifying["l_suppkey"] == s["s_suppkey"],
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "equal_width_binning",
    """
    WITH mm AS (
      SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
             CAST(MAX(o_totalprice) AS DOUBLE) AS mx
      FROM orders
    ), b AS (
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE CAST(least(9, floor((o_totalprice - mn) / ((mx - mn) / 10.0))) AS INT)
             END AS bin,
             mn, mx, o_totalprice
      FROM orders, mm
    )
    SELECT bin,
           round(mn + bin * ((mx - mn) / 10.0), 6) AS bin_lo,
           round(mn + (bin + 1) * ((mx - mn) / 10.0), 6) AS bin_hi,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM b GROUP BY bin, mn, mx
    """,
)
def equal_width_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width auto-binning (the KNIME Auto-Binner node's
    equal-width mode): 10 bins spanning [min, max], the top edge closed
    (least(9, ...) puts v = max in the last bin). Min/max come from one
    exact aggregate broadcast back over the scan; bin assignment is
    deterministic double arithmetic; per-bin totals are decimal-exact."""
    o = _t(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_totalprice").cast("double").alias("mn"),
        F.max("o_totalprice").cast("double").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / 10.0
    # constant column (mx == mn): everything lands in bin 0 in BOTH
    # engines rather than dividing by zero
    b = o.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(9),
                F.floor((F.col("o_totalprice") - F.col("mn")) / width),
            ).cast("int")
        )
        .alias("bin"),
        "mn",
        "mx",
        "o_totalprice",
    )
    return b.groupBy("bin", "mn", "mx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    ).select(
        "bin",
        F.round(F.col("mn") + F.col("bin") * width, 6).alias("bin_lo"),
        F.round(F.col("mn") + (F.col("bin") + 1) * width, 6).alias("bin_hi"),
        "n",
        "total",
    )


@query(
    "spearman_corr",
    """
    WITH r AS (
      SELECT l_returnflag,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rq2,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS rp2
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(rq2 AS DECIMAL(19,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(rp2 AS DECIMAL(19,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rq2 AS DECIMAL(19,0)) * CAST(rq2 AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(rp2 AS DECIMAL(19,0)) * CAST(rp2 AS DECIMAL(19,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rq2 AS DECIMAL(19,0)) * CAST(rp2 AS DECIMAL(19,0))) AS DOUBLE) AS sxy
      FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0),
                 6) AS spearman
    FROM s
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group (operators.relational
    .spearman — the KNIME Rank Correlation node): doubled average ranks
    in exact integer space, decimal moment sums, Pearson-on-ranks
    closed form. Two window sorts + one aggregation; no UDFs."""
    from knime_core_columnar_spark.operators.relational import spearman

    li = _t(spark, sf_dir, "lineitem")
    return spearman(li, "l_quantity", "l_extendedprice", ["l_returnflag"])


@query(
    "crosstab_chi2",
    """
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS observed
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), t AS (
      SELECT o_orderpriority, o_orderstatus, observed,
             SUM(observed) OVER (PARTITION BY o_orderpriority) AS row_tot,
             SUM(observed) OVER (PARTITION BY o_orderstatus) AS col_tot,
             SUM(observed) OVER () AS grand_tot
      FROM c
    )
    SELECT o_orderpriority, o_orderstatus, observed,
           round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                 / CAST(grand_tot AS DOUBLE), 6) AS expected,
           round(pow(CAST(observed AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                       / CAST(grand_tot AS DOUBLE), 2)
                 / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                    / CAST(grand_tot AS DOUBLE)), 6) AS chi2_contrib
    FROM t
    """,
)
def crosstab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table with chi-square contributions (the KNIME
    Crosstab node): one exact count aggregation, row/column/grand
    totals as window sums over the tiny cell table (never over the fact
    table), expected counts and χ² cell contributions in closed-form
    doubles. The full-table χ² is the sum of the published cells."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("observed")
    )
    t = c.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        F.sum("observed").over(Window.partitionBy("o_orderpriority")).alias("row_tot"),
        F.sum("observed").over(Window.partitionBy("o_orderstatus")).alias("col_tot"),
        F.sum("observed").over(
            Window.partitionBy()
        ).alias("grand_tot"),
    )
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand_tot").cast("double")
    )
    return t.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(
            F.pow(F.col("observed").cast("double") - expected, F.lit(2)) / expected, 6
        ).alias("chi2_contrib"),
    )


@query(
    "impute_timeseries",
    """
    WITH m AS (
      SELECT event_id, user_id,
             CASE WHEN ('0x' || substring(md5(CAST(event_id AS VARCHAR) || '|gap'), 1, 15))::BIGINT
                       % 10000 >= 2000
                  THEN value END AS v
      FROM events
    ), w AS (
      SELECT event_id, user_id, v,
             last_value(v IGNORE NULLS) OVER fw AS pv,
             first_value(v IGNORE NULLS) OVER bw AS nv,
             last_value(CASE WHEN v IS NOT NULL THEN CAST(event_id AS DOUBLE) END IGNORE NULLS)
               OVER fw AS px,
             first_value(CASE WHEN v IS NOT NULL THEN CAST(event_id AS DOUBLE) END IGNORE NULLS)
               OVER bw AS nx,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER (PARTITION BY user_id) AS DOUBLE)
               / COUNT(v) OVER (PARTITION BY user_id) AS mean_v
      FROM m
      WINDOW fw AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             bw AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, v,
           COALESCE(v, pv) AS v_ffill,
           COALESCE(v, nv) AS v_bfill,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE round(pv + (nv - pv) * (CAST(event_id AS DOUBLE) - px) / (nx - px), 6)
           END AS v_linear,
           COALESCE(v, round(mean_v, 6)) AS v_mean
    FROM w
    """,
)
def impute_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation (operators.impute.impute — the KNIME
    Missing Value node's strategy family): 20% of event values are
    deterministically masked to NULL (stable md5 gap mask), then filled
    four ways in one window stage — previous, next, linear
    interpolation on the event_id axis, and decimal-exact partition
    mean. Every filled cell is value-checked against the SQL replay."""
    from knime_core_columnar_spark.operators.impute import impute
    from knime_core_columnar_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    d = e.withColumn(
        "v", F.when(hash_bucket(["event_id"], "gap") >= 2000, F.col("value"))
    ).drop("value")
    d = impute(d, "v", "event_id", ["user_id"], "previous", "v_ffill")
    d = impute(d, "v", "event_id", ["user_id"], "next", "v_bfill")
    d = impute(d, "v", "event_id", ["user_id"], "linear", "v_linear")
    d = impute(d, "v", "event_id", ["user_id"], "mean", "v_mean")
    return d


@query(
    "segment_dedup",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM corpus
    ), c0 AS (
      SELECT doc_id, CAST((i - 1) // 15 AS INT) AS cid, word, i FROM w
    ), c AS (
      SELECT doc_id, cid, string_agg(word, ' ' ORDER BY i) AS chunk
      FROM c0 GROUP BY doc_id, cid
    ), k AS (
      SELECT doc_id, cid, chunk,
             ROW_NUMBER() OVER (PARTITION BY substring(md5(chunk), 1, 16)
                                ORDER BY doc_id, cid) = 1 AS kept
      FROM c
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY cid), '')
             AS dedup_text
    FROM k GROUP BY doc_id
    """,
)
def segment_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (operators.dedup.segment_dedup): the
    corpus is documents plus a mirrored copy of every 7th doc (simulating
    syndicated/mirrored pages); each 15-word segment survives only at its
    first (doc_id, position) occurrence and documents are reassembled
    from surviving segments. Mirrors therefore come back with
    n_kept = 0 and empty text while originals are untouched — every
    byte of the rewrite is value-checked against the oracle's
    window-function replay."""
    from knime_core_columnar_spark.operators.dedup import segment_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirrors = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return segment_dedup(d.unionByName(mirrors))


@query(
    "unigram_lm_quality",
    """
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ), v AS (
      SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
    ), t AS (
      SELECT CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS DOUBLE) AS tot
      FROM documents
    ), lp AS (
      SELECT word, cnt,
             CAST(round(round(ln(CAST(cnt AS DOUBLE) / tot), 6) * 1000000)
               AS BIGINT) AS lp6
      FROM v, t
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           round(CAST(SUM(lp6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_logprob
    FROM w JOIN lp USING (word) GROUP BY doc_id
    """,
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM scoring (operators.text
    .unigram_logprob): mean token log-probability per document — the
    KenLM-free perplexity-style quality gate. Per-token log-probs are
    rounded and scaled to int64 BEFORE summing, so the per-doc
    aggregation is exact integer math on both engines (summation-order
    independent); the oracle replays the identical two-pass train+score
    pipeline in SQL."""
    from knime_core_columnar_spark.operators.text import unigram_logprob

    d = _t(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text", rare_threshold=5)


@query(
    "source_quality_rollup",
    """
    WITH t0 AS (
      SELECT source, CAST(length(text) AS DOUBLE) AS n,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ntok,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
               / length(text) AS pr,
             length(text) AS nchars
      FROM documents
    ), q AS (
      SELECT source, ntok, nchars,
             CAST(round((
               (CASE WHEN n < 20 THEN n / 20.0 WHEN n > 4000 THEN 0.5 ELSE 1.0 END) * 0.4
               + (1.0 - least(pr * 5.0, 1.0)) * 0.3
               + (CASE WHEN n / ntok >= 3.0 AND n / ntok <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.3
             ) * 1000000) AS BIGINT) AS q6
      FROM t0
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(nchars) AS BIGINT) AS total_chars,
           round(CAST(SUM(q6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_quality,
           CAST(SUM(CASE WHEN q6 < 800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
    FROM q GROUP BY source
    """,
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup — the domain-level curation view (keep
    or drop whole sources by aggregate quality, as web pipelines do per
    domain): document counts, token/char budgets, mean composite quality
    (scaled-int64 exact aggregation of the per-row score), and the count
    of low-quality docs per source. One scan, one partial-aggregated
    groupBy on the source key."""
    from knime_core_columnar_spark.operators import text as X

    d = _t(spark, sf_dir, "documents")
    q6 = F.round(X.quality_score("text") * 1_000_000, 0).cast("long")
    per = d.select(
        "source",
        q6.alias("q6"),
        X.token_count("text").alias("ntok"),
        F.length("text").alias("nchars"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.sum("nchars").alias("total_chars"),
        F.round(
            F.sum("q6").cast("double") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
        ).alias("avg_quality"),
        F.sum((F.col("q6") < 800_000).cast("int")).alias("n_low_quality"),
    )


@query(
    "mixture_by_lang",
    """
    WITH b AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 15))::BIGINT
               % 10000 AS bkt,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS ntok
      FROM documents
    ), k AS (
      SELECT lang, ntok,
             CASE WHEN lang = 'en' THEN bkt < 3000
                  WHEN lang = 'de' THEN bkt < 10000
                  WHEN lang = 'fr' THEN bkt < 10000
                  WHEN lang = 'es' THEN bkt < 8000
                  ELSE bkt < 1000 END AS kept
      FROM b
    )
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS w_total,
           CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT) AS w_kept
    FROM k GROUP BY lang
    """,
)
def mixture_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture audit (operators.sampling.mixture_report):
    deterministic per-language keep-decisions (downsample dominant
    English to 30%, keep the rest at 100/100/80/10%) reported as
    total vs kept rows and token weights per language — the mixing-ratio
    / token-budget check a pipeline runs before materializing an epoch.
    The keep bit is the stable row-key hash, so the report is an exact
    preview of what stratified_sample would emit."""
    from knime_core_columnar_spark.operators.sampling import mixture_report
    from knime_core_columnar_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    return mixture_report(
        d,
        ["doc_id"],
        "lang",
        {"en": 0.3, "de": 1.0, "fr": 1.0, "es": 0.8},
        weight_col=F.col("n_tokens"),
        default_fraction=0.1,
        salt="mix",  # the oracle embeds '|mix' in its md5 literals
    )



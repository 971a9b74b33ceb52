"""Statistics catalog queries: profiling, correlation and regression,
binning, outliers and normalization, ML-lite (k-means, calibration),
sampling and mixture planning, validation audits, drift monitors,
sketches, and temporal analytics (resampling, funnels, cohorts,
session and sliding windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.catalog._registry import (
    _artifact,
    _dec,
    _t,
    _table_meta,
    query,
)
from knime_core_columnar_spark.schema import read_parquet


@query(
    "session_windows_batch",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), y AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    )
    SELECT user_id, MIN(ts) AS sess_start, MAX(ts) + INTERVAL 5 MINUTE AS sess_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sess_id
    """,
)
def session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) in batch mode — the same
    streaming.session_windows code path runs on readStream with a
    watermark; the oracle is the gaps-and-islands SQL formulation."""
    from knime_core_columnar_spark.streaming import session_windows

    ev = _t(spark, sf_dir, "events")
    return session_windows(ev, gap="5 minutes", watermark=None).select(
        "user_id",
        F.col("sess_start").cast("timestamp_ntz").alias("sess_start"),
        F.col("sess_end").cast("timestamp_ntz").alias("sess_end"),
        "n_events",
    )


@query(
    "sliding_windows_batch",
    """
    WITH e AS (
      SELECT event_type,
             date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS b
      FROM events
    )
    SELECT b - k * (INTERVAL 30 MINUTE) AS win_start, event_type, COUNT(*) AS n
    FROM e, (SELECT unnest([0, 1]) AS k)
    GROUP BY 1, 2
    """,
)
def sliding_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window / 30min slide — each event lands in 2
    overlapping windows) in batch mode; the same streaming.sliding_window_agg
    runs on readStream. Oracle replicates Spark's epoch-aligned window
    assignment arithmetically."""
    from knime_core_columnar_spark.streaming import sliding_window_agg

    ev = _t(spark, sf_dir, "events")
    out = sliding_window_agg(ev, window="1 hour", slide="30 minutes", watermark=None)
    return out.select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"), "event_type", "n"
    )


@query(
    "moment_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sq_p,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_qp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((sq_q - s_q * s_q / n) / (n - 1), 6) AS var_qty,
           round(sqrt((sq_q - s_q * s_q / n) / (n - 1)), 6) AS stddev_qty,
           round((s_qp - s_q * s_p / n)
             / (sqrt(sq_q - s_q * s_q / n) * sqrt(sq_p - s_p * s_p / n)), 6) AS corr_qty_price
    FROM m
    """,
)
def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / Pearson correlation computed from
    decimal-EXACT moment sums (Σx, Σx², Σxy) with the final arithmetic in
    IEEE doubles — order-independent and bit-identical across engines,
    unlike the built-in streaming var/corr aggregates (which are the
    right choice at scale when differential exactness is not needed)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("s_q"),
        F.sum(q * q).cast("double").alias("sq_q"),
        F.sum(p).cast("double").alias("s_p"),
        F.sum(p * p).cast("double").alias("sq_p"),
        F.sum(q * p).cast("double").alias("s_qp"),
    )
    n = F.col("n")
    s_q, sq_q = F.col("s_q"), F.col("sq_q")
    s_p, sq_p, s_qp = F.col("s_p"), F.col("sq_p"), F.col("s_qp")
    # round(…, 6): the raw closed forms agree to ~1 ulp across engines
    # (expression-compiler FMA contraction), which the exact hash check
    # still flags at some SFs — rounding makes the gate sub-ulp-proof
    return m.select(
        "l_returnflag", "n",
        F.round((sq_q - s_q * s_q / n) / (n - 1), 6).alias("var_qty"),
        F.round(F.sqrt((sq_q - s_q * s_q / n) / (n - 1)), 6).alias("stddev_qty"),
        F.round((s_qp - s_q * s_p / n)
                / (F.sqrt(sq_q - s_q * s_q / n) * F.sqrt(sq_p - s_p * s_p / n)), 6)
        .alias("corr_qty_price"),
    )


@query(
    "hash_split_stats",
    """
    WITH h AS (
      SELECT l_returnflag,
             ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '|'
                                    || CAST(l_linenumber AS VARCHAR) || '|split'),
                                1, 15))::BIGINT % 10000 AS b
      FROM lineitem
    )
    SELECT CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split,
           l_returnflag, COUNT(*) AS n
    FROM h GROUP BY 1, 2
    """,
)
def hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test split by row-key hash
    (operators.sampling.hash_split): the same row lands in the same
    split regardless of partitioning, parallelism, or data growth —
    unlike randomSplit(). The md5-derived bucket is bit-identical in
    DuckDB, so the exact per-split row assignment is oracle-gated (here
    aggregated per returnflag to keep the result compact)."""
    from knime_core_columnar_spark.operators.sampling import hash_split

    li = _t(spark, sf_dir, "lineitem")
    return (
        hash_split(li, ["l_orderkey", "l_linenumber"])
        .groupBy("split", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "corr_stats",
    """
    WITH a AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((nd * sxy - sx * sy)
                 / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) AS corr_qty_price,
           n
    FROM a
    """,
)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group with EXACT decimal moment sums —
    F.corr is a double reduction (not bit-stable under reordering), so
    the five moments accumulate as decimals and the closed-form corr is
    computed on the exact sums in identical double arithmetic on both
    engines. One partial-aggregated pass, same shuffle as any groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd, sx, sy = F.col("nd"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return a.select(
        "l_returnflag",
        F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        "n",
    )


@query(
    "stratified_sample_stats",
    """
    WITH h AS (
      SELECT o_orderpriority,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|strata'),
                                1, 15))::BIGINT % 10000 AS b
      FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS n
    FROM h
    WHERE (o_orderpriority = '1-URGENT' AND b < 5000)
       OR (o_orderpriority = '2-HIGH' AND b < 2500)
       OR (o_orderpriority NOT IN ('1-URGENT', '2-HIGH') AND b < 1000)
    GROUP BY o_orderpriority
    """,
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (training-data class
    rebalancing): each priority keeps its own fraction, decided by the
    md5 key hash — same rows at any parallelism, and the exact per-row
    membership is oracle-gated (aggregated per stratum for compactness)."""
    from knime_core_columnar_spark.operators.sampling import stratified_sample

    o = _t(spark, sf_dir, "orders")
    s = stratified_sample(
        o, ["o_orderkey"], "o_orderpriority",
        {"1-URGENT": 0.5, "2-HIGH": 0.25}, default_fraction=0.1,
    )
    return s.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query(
    "zscore_normalize",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS _row_key,
           round((l_quantity - sx / nd)
                 / sqrt((nd * sxx - sx * sx) / (nd * (nd - 1))), 6) AS z_qty
    FROM lineitem JOIN m USING (l_returnflag)
    """,
)
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (feature normalization for
    training): mean and sample variance from EXACT decimal moment sums
    (one partial-aggregated pass over 6 groups), broadcast-joined back —
    per-row arithmetic is deterministic double math. Two scans total,
    no window shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    nd, sx, sxx = F.col("nd"), F.col("sx"), F.col("sxx")
    return (
        li.join(F.broadcast(m), "l_returnflag")
        .select(
            F.concat_ws(
                "_", F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ).alias("_row_key"),
            F.round(
                (F.col("l_quantity") - sx / nd)
                / F.sqrt((nd * sxx - sx * sx) / (nd * (nd - 1))),
                6,
            ).alias("z_qty"),
        )
    )


@query(
    "iqr_outliers",
    """
    WITH q AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS q1,
             CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE) AS q3
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, COUNT(*) AS n_outliers,
           MIN(o_totalprice) AS min_out, MAX(o_totalprice) AS max_out
    FROM orders JOIN q USING (o_orderpriority)
    WHERE o_totalprice < q1 - 0.5 * (q3 - q1)
       OR o_totalprice > q3 + 0.5 * (q3 - q1)
    GROUP BY o_orderpriority
    """,
)
def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection (Tukey-style fences, k=0.5 to fit the
    synthetic distribution's tails) per group — data-quality filtering
    before training. Exact percentiles (continuous interpolation,
    identical to quantile_cont) computed once per group, broadcast back;
    fences are deterministic double arithmetic."""
    o = _t(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .filter(
            (F.col("o_totalprice") < F.col("q1") - 0.5 * iqr)
            | (F.col("o_totalprice") > F.col("q3") + 0.5 * iqr)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("o_totalprice").alias("min_out"),
            F.max("o_totalprice").alias("max_out"),
        )
    )


@query(
    "funnel_analysis",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_view_click,
           (SELECT COUNT(*) FROM s3) AS n_view_click_purchase
    """,
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click → purchase): each stage is the
    earliest qualifying event strictly after the previous stage's. Three
    keyed aggregations + broadcast-scale joins on user_id — the
    sequential-pattern query every event-analytics engine is asked for;
    no window over the full stream, state is one row per user per
    stage."""
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@query(
    "cohort_retention",
    """
    WITH first_week AS (
      SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.week) // 7 AS INTEGER) AS week_offset,
           COUNT(*) AS n_active
    FROM first_week f JOIN active a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each later week they return (offset 0 = the cohort size).
    Two aggregations + one user-keyed join; the matrix is
    O(weeks²)-sized regardless of event volume."""
    ev = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    first = ev.groupBy("user_id").agg(F.min(week).alias("cohort"))
    active = ev.select("user_id", week.alias("week")).distinct()
    return (
        first.join(active, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "corpus_shuffle",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|epoch0'), doc_id) - 1
             AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators.sampling.seeded_shuffle):
    a stable md5-keyed global permutation of the corpus — reproducible
    across runs and cluster sizes, re-seedable per epoch. Distributed
    range-sort plus the zipWithIndex offset trick; no global-window
    row_number, so no single-reducer stage at 100 TB."""
    from knime_core_columnar_spark.operators.sampling import seeded_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return seeded_shuffle(d, ["doc_id"], seed="epoch0")


@query(
    "referential_audit",
    """
    SELECT
      (SELECT COUNT(*) FROM orders) AS n_orders,
      (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS n_orphan_orders,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS n_childless_customers,
      (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
        AS n_active_customers
    """,
)
def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across a foreign key — the pre-join
    data-quality check an ETL pipeline runs before trusting a join:
    orphan facts (orders without a customer, left-anti), childless
    dimension rows (customers without orders, right-anti), and active
    key cardinality. ONE lazy plan (four 1-row aggregates cross-joined)
    — no driver-side counts; anti-joins broadcast the smaller key set."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n_orders = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n_orphans = o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphan_orders")
    )
    n_childless = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_childless_customers")
    )
    n_active = o.agg(F.countDistinct("o_custkey").alias("n_active_customers"))
    return (
        n_orders.crossJoin(n_orphans).crossJoin(n_childless).crossJoin(n_active)
    )


@query(
    "percentile_grid",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_extendedprice, 0.10) AS DOUBLE) AS p10,
           CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
           CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) AS p50,
           CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS p75,
           CAST(quantile_cont(l_extendedprice, 0.90) AS DOUBLE) AS p90,
           CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-quantile distribution summary per group — the profiling
    grid (p10…p99) in ONE aggregation pass: Spark's percentile()
    accepts the full quantile array, computing all cuts from a single
    sorted digest per group rather than six separate scans."""
    li = _t(spark, sf_dir, "lineitem")
    qs = [0.10, 0.25, 0.50, 0.75, 0.90, 0.99]
    g = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(q) for q in qs])).alias("p")
    )
    return g.select(
        "l_returnflag",
        *[F.col("p")[i].alias(f"p{int(q * 100)}") for i, q in enumerate(qs)],
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


@query("table_checksums", TABLE_CHECKSUMS_ORACLE)
def _table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@query("copurchase_triangles", COPURCHASE_TRIANGLES_ORACLE)
def _copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
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


CMS_FREQUENCY_ORACLE = """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    ),
    tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token),
    probes AS (
      SELECT DISTINCT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents WHERE doc_id < 20
    ),
    cells AS (
      SELECT t.r,
             ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|' || tc.token), 1, 15))::BIGINT
               % 64 AS bucket,
             CAST(SUM(tc.n) AS BIGINT) AS cnt
      FROM tc CROSS JOIN range(4) t(r)
      GROUP BY 1, 2
    ),
    pb AS (
      SELECT pr.token, t.r,
             ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|' || pr.token), 1, 15))::BIGINT
               % 64 AS bucket
      FROM probes pr CROSS JOIN range(4) t(r)
    ),
    est AS (
      SELECT pb.token, MIN(COALESCE(cells.cnt, 0)) AS est_count
      FROM pb LEFT JOIN cells ON cells.r = pb.r AND cells.bucket = pb.bucket
      GROUP BY pb.token
    )
    SELECT est.token, CAST(est.est_count AS BIGINT) AS est_count,
           CAST(COALESCE(tc.n, 0) AS BIGINT) AS exact_count,
           CAST(est.est_count - COALESCE(tc.n, 0) AS BIGINT) AS overcount
    FROM est LEFT JOIN tc ON tc.token = est.token
"""


@query("cms_frequency", CMS_FREQUENCY_ORACLE)
def _cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators.sketch.cms_*):
    per-source shard sketches are built and MERGED (proving the
    incremental-maintenance contract: merge = bucket-count sum), then
    probed for the vocabulary of the first 20 docs; exact recounts of
    the probe set expose the guaranteed-nonnegative overcount. Width 64
    deliberately forces collisions so the min-over-rows estimate does
    real work. All md5/integer — bit-identical on any engine; the
    oracle replays the identical sketch in SQL from full token counts
    (equivalent because bucket counts are sums over colliding tokens)."""
    from knime_core_columnar_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    sketch = cms_merge(
        cms_sketch(tok, "token", depth=4, width=64, shard_cols=["source"])
    )
    probes = (
        d.filter(F.col("doc_id") < 20)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    est = cms_estimate(sketch, probes, "token", depth=4, width=64)
    exact = (
        tok.join(F.broadcast(probes), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "token", "left")
        .select(
            "token",
            F.col("est_count").cast("long").alias("est_count"),
            F.coalesce("exact_count", F.lit(0)).cast("long").alias("exact_count"),
            (F.col("est_count") - F.coalesce("exact_count", F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


SOURCE_QUOTA_SAMPLE_ORACLE = """
    WITH r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|quota'), doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ), q AS (
      SELECT *, least(n, CAST(floor(10 * sqrt(n)) AS BIGINT)) AS quota FROM r
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(quota) AS BIGINT) AS quota,
           CAST(SUM(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= quota THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM q GROUP BY source
"""


@query("source_quota_sample", SOURCE_QUOTA_SAMPLE_ORACLE)
def _source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping with sqrt temperature
    (operators.sampling.quota_sample): each source keeps at most
    10·sqrt(n) docs, chosen by a deterministic md5 order — the
    domain-rebalancing step of web-corpus curation. chars_kept makes
    the check sensitive to WHICH rows survive, not just how many."""
    from knime_core_columnar_spark.operators.sampling import quota_sample

    d = _t(spark, sf_dir, "documents")
    kept = quota_sample(d, "source", "doc_id", scale=10, salt="quota")
    return kept.groupBy("source").agg(
        F.max("__n_group").cast("long").alias("n_docs"),
        F.max("__quota").cast("long").alias("quota"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


STREAM_QUOTA_ADMISSION_ORACLE = """
    WITH r AS (
      SELECT event_id, ts, event_type, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS admit_rank
      FROM events
    )
    SELECT event_id, ts, event_type, user_id, value,
           CAST(admit_rank AS BIGINT) AS admit_rank
    FROM r WHERE admit_rank <= 100
"""


@query("stream_quota_admission", STREAM_QUOTA_ADMISSION_ORACLE)
def _stream_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.ops.streaming_quota_admission: the first
    100 events per type in (ts, event_id) order — exactly the admitted
    set the stateful streaming operator produces when the stream is
    replayed in timestamp order (pinned by the micro-batch parity
    test). Expressed with the per-key window the streaming kernel
    guarantees; state per key in the stream is ONE integer."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("admit_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("admit_rank") <= 100)
        .select("event_id", "ts", "event_type", "user_id", "value",
                "admit_rank")
    )


DSIR_SELECT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, (text LIKE '%spark%') AS tgt,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS l FROM documents
    ), r AS (
      SELECT doc_id, tgt,
             ('0x' || substring(md5(l[CAST(i AS INT)] || ' '
                                    || l[CAST(i + 1 AS INT)]), 1, 15))::BIGINT
               % 8192 AS b
      FROM toks, LATERAL (SELECT unnest(range(1, len(l))) AS i) t
    ), c AS (
      SELECT b, COUNT(*) AS rb,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tb
      FROM r GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(rb) AS BIGINT) AS R, CAST(SUM(tb) AS BIGINT) AS T FROM c
    ), lam AS (
      SELECT b, CAST(round(round(
                 ln(CAST(2 * tb + 1 AS DOUBLE) / CAST(2 * T + 8192 AS DOUBLE))
               - ln(CAST(2 * rb + 1 AS DOUBLE) / CAST(2 * R + 8192 AS DOUBLE)),
               6) * 1000000) AS BIGINT) AS lp6
      FROM c, tot
    )
    , scored AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             round(CAST(SUM(lp6) AS DOUBLE) / 1000000.0, 6) AS dsir_logratio,
             SUM(lp6) > 0 AS selected
      FROM r JOIN lam USING (b) GROUP BY doc_id
    )
    -- bigram-less docs (< 2 tokens) score 0.0 / selected=false instead
    -- of vanishing (sampling.dsir_logratio parity)
    SELECT d.doc_id,
           CAST(COALESCE(scored.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           COALESCE(scored.dsir_logratio, 0.0) AS dsir_logratio,
           COALESCE(scored.selected, FALSE) AS selected
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN scored ON d.doc_id = scored.doc_id
"""


@query("dsir_select", DSIR_SELECT_ORACLE)
def _dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators.sampling.dsir_logratio,
    after Xie et al. NeurIPS 2023): hashed-bigram log-likelihood ratio
    of a target slice vs the raw corpus, per-bucket weights scaled
    to int64 before the per-doc sum so selection (Σλ6 > 0) is
    integer-exact cross-engine. One bucket agg (8192 rows) + broadcast
    λ join + one per-doc agg. Target = docs mentioning 'spark' — a
    CONTENT-based slice whose bigram distribution genuinely differs
    from the corpus (the synthetic langs all share one vocabulary, so a
    lang-based target would be distributionally identical to raw and
    the smoothing term would push every score slightly negative)."""
    from knime_core_columnar_spark.operators.sampling import dsir_logratio

    d = _t(spark, sf_dir, "documents")
    return dsir_logratio(
        d, F.col("text").like("%spark%"), "doc_id", "text", n_buckets=8192
    )


_BENFORD_CASE = (
    "CASE obs.digit WHEN 1 THEN 0.3010299956639812 "
    "WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 "
    "WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 "
    "WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 "
    "WHEN 8 THEN 0.05115252244738129 ELSE 0.04575749056067514 END"
)


BENFORD_AUDIT_ORACLE = f"""
    WITH src AS (
      SELECT 'o_totalprice' AS col_name,
             CAST(abs(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS DECIMAL(20,0))) AS VARCHAR) AS s
      FROM orders
      UNION ALL
      SELECT 'l_extendedprice',
             CAST(abs(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS DECIMAL(20,0))) AS VARCHAR)
      FROM lineitem
    ), digits AS (
      SELECT col_name, CAST(substring(s, 1, 1) AS INTEGER) AS digit FROM src
    ), obs AS (
      SELECT col_name, digit, CAST(COUNT(*) AS BIGINT) AS n_observed
      FROM digits WHERE digit >= 1 GROUP BY col_name, digit
    ), tot AS (
      SELECT col_name, CAST(SUM(n_observed) AS BIGINT) AS n
      FROM obs GROUP BY col_name
    )
    SELECT obs.col_name, obs.digit, obs.n_observed,
           CAST(floor((CAST(tot.n AS DOUBLE) * ({_BENFORD_CASE}))
                      * 1000000.0) AS BIGINT) AS expected_micro
    FROM obs JOIN tot USING (col_name)
"""


@query("benford_audit", BENFORD_AUDIT_ORACLE)
def _benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford audit (operators.validate.benford_digit_audit)
    over the two money columns — the fabricated-amounts forensic.
    Exact-decimal digit extraction (no float-to-string); expected counts
    multiply the identical compile-time double literals in both engines
    (same IEEE product ⇒ same floor; the quota_sample sqrt argument)."""
    from knime_core_columnar_spark.operators.validate import (
        benford_digit_audit,
    )

    o = benford_digit_audit(_t(spark, sf_dir, "orders"), ["o_totalprice"])
    l = benford_digit_audit(
        _t(spark, sf_dir, "lineitem"), ["l_extendedprice"]
    )
    return o.unionByName(l).withColumnRenamed("column", "col_name")


K_ANONYMITY_ORACLE = """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM g
"""


@query("k_anonymity_audit", K_ANONYMITY_ORACLE)
def _k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators.validate.k_anonymity_audit) over the
    customer quasi-identifiers (nation, market segment) at k=5 — the
    privacy release gate: one hash aggregation on the quasi tuple, a
    one-row report of groups and rows a release would expose."""
    from knime_core_columnar_spark.operators.validate import k_anonymity_audit

    return k_anonymity_audit(
        _t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=5
    )


CONCENTRATION_ORACLE = """
    SELECT * FROM (
      SELECT 'o_orderstatus' AS col_name,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
                       AS DECIMAL(38,0)) AS VARCHAR) AS sum_sq_counts,
             CAST(MAX(n) AS BIGINT) AS top_count
      FROM (SELECT o_orderstatus, COUNT(*) AS n FROM orders
            WHERE o_orderstatus IS NOT NULL GROUP BY 1)
      UNION ALL
      SELECT 'o_orderpriority', CAST(SUM(n) AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
                       AS DECIMAL(38,0)) AS VARCHAR), CAST(MAX(n) AS BIGINT)
      FROM (SELECT o_orderpriority, COUNT(*) AS n FROM orders
            WHERE o_orderpriority IS NOT NULL GROUP BY 1)
      UNION ALL
      SELECT 'l_returnflag', CAST(SUM(n) AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
                       AS DECIMAL(38,0)) AS VARCHAR), CAST(MAX(n) AS BIGINT)
      FROM (SELECT l_returnflag, COUNT(*) AS n FROM lineitem
            WHERE l_returnflag IS NOT NULL GROUP BY 1)
    )
"""


@query("concentration_profile", CONCENTRATION_ORACLE)
def _concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer value-concentration audit
    (operators.validate.concentration_profile): n, distinct, Σcount²,
    top count per categorical column — Gini impurity and top-share are
    exact rationals derived from these, with none of entropy's
    cross-engine ln() hazard."""
    from knime_core_columnar_spark.operators.validate import (
        concentration_profile,
    )

    o = concentration_profile(
        _t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"]
    )
    l = concentration_profile(_t(spark, sf_dir, "lineitem"), ["l_returnflag"])
    return o.unionByName(l).withColumnRenamed("column", "col_name")


LEAKAGE_SAFE_SPLIT_ORACLE = """
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
    ), reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.a, reach.label FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, MIN(label) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    )
    SELECT doc_id, component,
           CASE WHEN ('0x' || substring(md5('split_' || CAST(component AS VARCHAR)), 1, 8))::BIGINT
                     % 1000 < 100 THEN 'test'
                WHEN ('0x' || substring(md5('split_' || CAST(component AS VARCHAR)), 1, 8))::BIGINT
                     % 1000 < 200 THEN 'val'
                ELSE 'train' END AS split
    FROM labeled
"""


@query("leakage_safe_split", LEAKAGE_SAFE_SPLIT_ORACLE)
def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (operators.sampling.leakage_safe_split): near-dup clusters from the
    verified MinHash+LSH edge list (same derivation neardup_clusters
    pins), split decided per CLUSTER by salted label hash — a near-copy
    can never land in a different split than its twin. Oracle replays
    the closure as a recursive CTE and the split as the documented
    keyed_hash32 SQL equivalent."""
    from knime_core_columnar_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from knime_core_columnar_spark.operators.sampling import (
        leakage_safe_split,
    )

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, "doc_id", "text", num_perm=16, bands=4)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b")
    return leakage_safe_split(
        d, pairs, "doc_id", test_permille=100, val_permille=100
    )


CALIBRATION_REPORT_ORACLE = """
    WITH h AS (
      SELECT ('0x' || substring(md5(CAST(event_id AS VARCHAR) || '|cal_s'), 1, 15))::BIGINT
               % 10000 AS b1,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR) || '|cal_y'), 1, 15))::BIGINT
               % 10000 AS b2
      FROM events
    ), scored AS (
      SELECT b1 / 10000.0 AS score,
             CASE WHEN b2 < b1 THEN 1 ELSE 0 END AS y
      FROM h
    ), binned AS (
      SELECT least(9, CAST(floor(score * 10) AS INT)) AS bin, score, y
      FROM scored
    ), agg AS (
      SELECT CAST(bin AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             round(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
               AS mean_score,
             round(CAST(SUM(y) AS DOUBLE) / count(*), 6) AS frac_pos
      FROM binned GROUP BY bin
    )
    SELECT bin, n, n_pos, mean_score, frac_pos,
           round(abs(mean_score - frac_pos), 6) AS gap
    FROM agg
"""


@query("calibration_report", CALIBRATION_REPORT_ORACLE)
def _calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (operators.ml.calibration_report, 10 bins)
    over a synthetic well-calibrated classifier: score = stable hash
    bucket / 10⁴, label ~ Bernoulli(score) via an independent hash —
    so frac_pos tracks mean_score and the per-bin gap is small by
    construction. One partially-aggregated scan; decimal-exact score
    sums."""
    from knime_core_columnar_spark.operators.ml import calibration_report
    from knime_core_columnar_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events").select("event_id")
    scored = e.select(
        (hash_bucket(["event_id"], "cal_s") / F.lit(10000.0)).alias("score"),
        (
            hash_bucket(["event_id"], "cal_y")
            < hash_bucket(["event_id"], "cal_s")
        ).alias("label"),
    )
    return calibration_report(scored, "score", "label", n_bins=10)


NUMERIC_DRIFT_ORACLE = """
    WITH old AS (
      SELECT value FROM events WHERE event_id % 2 = 0
    ), new AS (
      SELECT value * 1.2 + 10 AS value FROM events WHERE event_id % 2 = 1
    ), ob AS (
      SELECT CAST(CASE WHEN value < 0 THEN -1
                       WHEN value >= 500 THEN 10
                       ELSE least(9, CAST(floor((value - 0) / 50.0) AS INT)) END AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_old
      FROM old WHERE value IS NOT NULL GROUP BY 1
    ), nb AS (
      SELECT CAST(CASE WHEN value < 0 THEN -1
                       WHEN value >= 500 THEN 10
                       ELSE least(9, CAST(floor((value - 0) / 50.0) AS INT)) END AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_new
      FROM new WHERE value IS NOT NULL GROUP BY 1
    ), merged AS (
      SELECT COALESCE(ob.bin, nb.bin) AS bin,
             COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
      FROM ob FULL OUTER JOIN nb ON ob.bin = nb.bin
    ), tot AS (
      SELECT CAST(SUM(n_old) AS BIGINT) AS t_o, CAST(SUM(n_new) AS BIGINT) AS t_n
      FROM merged
    )
    SELECT bin, n_old, n_new,
           round(n_old / t_o, 6) AS pct_old,
           round(n_new / t_n, 6) AS pct_new,
           round(n_new / t_n - n_old / t_o, 6) AS pct_diff
    FROM merged, tot
"""


@query("numeric_drift_report", NUMERIC_DRIFT_ORACLE)
def _numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift audit (operators.validate.numeric_drift_report):
    the 'old' snapshot is the even-event half of events.value, the
    'new' snapshot the odd half scaled+shifted (×1.2 + 10) — a real
    location/scale drift the per-bin table makes visible. Fixed bin
    edges [0, 500) / 50 so the binning is engine-portable; exact int64
    counts, IEEE-division percentages."""
    from knime_core_columnar_spark.operators.validate import (
        numeric_drift_report,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "value")
    old = e.filter(F.col("event_id") % 2 == 0).select("value")
    new = e.filter(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.2 + 10).alias("value")
    )
    return numeric_drift_report(old, new, "value", lo=0.0, hi=500.0, n_bins=10)


DIVERSE_SAMPLE_ORACLE = """
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
    )
    SELECT vec_id, cell_id, CAST(rk AS BIGINT) AS rank_in_cell FROM (
      SELECT vec_id, cell_id,
             ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY
               ('0x' || substring(md5('diverse' || '_' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
               vec_id) AS rk
      FROM a2
    ) WHERE rk <= 10
"""


@query("diverse_sample", DIVERSE_SAMPLE_ORACLE)
def _diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-balanced subset (operators.clustering.diverse_sample,
    k=8 cells × 10 per cell): the Lloyd loop of kmeans_clusters (same
    seeds, same two unrolled iterations in the oracle) followed by a
    salted-hash per-cell pick — every discovered embedding mode
    contributes equally to the sample."""
    from knime_core_columnar_spark.operators.clustering import diverse_sample

    e = _t(spark, sf_dir, "embeddings")
    return diverse_sample(
        e, k=8, n_per_cell=10, iters=2,
        corpus_count=_table_meta(spark, sf_dir, "embeddings").rows,
    )


DRIFT_MONITOR_ORACLE = """
    WITH vals AS (
      SELECT ts, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
    ), binv AS (
      SELECT ts,
             CAST(CASE WHEN v < 0 THEN -1
                       WHEN v >= 500 THEN 10
                       ELSE least(9, CAST(floor((v - 0) / 50.0) AS INT)) END
                  AS BIGINT) AS bin
      FROM vals
    ), rb AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n FROM binv GROUP BY bin
    ), rt AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t FROM rb
    ), ref AS (
      SELECT bin, round(n / t, 6) AS ref_pct FROM rb, rt
    ), wc AS (
      SELECT date_trunc('hour', ts) AS win_start, bin,
             CAST(count(*) AS BIGINT) AS n
      FROM binv GROUP BY 1, 2
    ), grid AS (
      SELECT w.win_start, CAST(b.bin AS BIGINT) AS bin
      FROM (SELECT DISTINCT win_start FROM wc) w,
           (SELECT unnest(generate_series(-1, 10)) AS bin) b
    ), filled AS (
      SELECT g.win_start, g.bin, COALESCE(wc.n, 0) AS n
      FROM grid g LEFT JOIN wc ON wc.win_start = g.win_start
                               AND wc.bin = g.bin
    ), wt AS (
      SELECT win_start, CAST(SUM(n) AS BIGINT) AS t
      FROM filled GROUP BY win_start
    )
    SELECT f.win_start, f.bin, f.n,
           round(f.n / wt.t, 6) AS pct,
           COALESCE(ref.ref_pct, 0.0) AS ref_pct,
           round(f.n / wt.t - COALESCE(ref.ref_pct, 0.0), 6) AS pct_diff
    FROM filled f
    JOIN wt ON wt.win_start = f.win_start
    LEFT JOIN ref ON ref.bin = f.bin
"""


@query("drift_monitor_batch", DRIFT_MONITOR_ORACLE)
def _drift_monitor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor (streaming.streaming_drift_monitor)
    run in batch mode — the SAME code executes as a readStream in
    production; the reference distribution is the full-corpus bin
    shares of events.value, so per-hour windows drift against the
    all-time shape. Stream/batch parity is pinned by
    test_drift_monitor_stream_matches_batch. Zero-count bins are
    emitted per window (a disappearing mode IS drift)."""
    from knime_core_columnar_spark.operators.validate import bin_shares
    from knime_core_columnar_spark.streaming.ops import (
        streaming_drift_monitor,
    )

    e = _t(spark, sf_dir, "events").select("ts", "value")
    ref = bin_shares(e, "value", 0.0, 500.0, 10)
    return streaming_drift_monitor(
        e, ref, "value", "ts", lo=0.0, hi=500.0, n_bins=10,
        window="1 hour", watermark=None,
    )


RESAMPLE_FFILL_ORACLE = """
    WITH obs AS (
      SELECT user_id AS k, ts AS ots, CAST(MAX(value) AS DOUBLE) AS v
      FROM events GROUP BY user_id, ts
    ), span AS (
      SELECT k, date_trunc('hour', MIN(ots)) AS lo, MAX(ots) AS hi
      FROM obs GROUP BY k
    ), grid AS (
      SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
      FROM span
    )
    SELECT g.k AS user_id, g.gts AS grid_ts, o.v AS value
    FROM grid g ASOF LEFT JOIN obs o
      ON g.k = o.k AND g.gts >= o.ots
"""


@query("resample_ffill", RESAMPLE_FFILL_ORACLE)
def _resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid resampling (operators.temporal.resample_timeseries,
    ffill): each user's irregular event values align to an hourly grid
    spanning exactly that user's observed range, gap hours carrying the
    last observation forward. Observations pre-aggregate to one row
    per (user, ts) (max value) so the as-of tie rule is moot and both
    engines are deterministic; the oracle replays the grid with
    generate_series and the carry-forward with DuckDB's native ASOF
    JOIN — a genuinely different evaluation strategy than the
    union+carry plan."""
    from knime_core_columnar_spark.operators.temporal import (
        resample_timeseries,
    )

    e = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").cast("double").alias("value"))
    )
    return resample_timeseries(
        e, "user_id", "ts", "value", step="1 hour", strategy="ffill"
    )


RESAMPLE_INTERP_ORACLE = """
    WITH obs AS (
      SELECT user_id AS k, ts AS ots, CAST(MAX(value) AS DOUBLE) AS v
      FROM events GROUP BY user_id, ts
    ), span AS (
      SELECT k, date_trunc('hour', MIN(ots)) AS lo, MAX(ots) AS hi
      FROM obs GROUP BY k
    ), grid AS (
      SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
      FROM span
    ), b AS (
      SELECT g.k, g.gts, o.v AS pv, o.ots AS pts
      FROM grid g ASOF LEFT JOIN obs o ON g.k = o.k AND g.gts >= o.ots
    ), f AS (
      SELECT g.k, g.gts, o.v AS nv, o.ots AS nts
      FROM grid g ASOF LEFT JOIN obs o ON g.k = o.k AND g.gts <= o.ots
    )
    SELECT b.k AS user_id, b.gts AS grid_ts,
           CASE WHEN pv IS NULL THEN nv
                WHEN nv IS NULL OR epoch(nts) = epoch(pts) THEN pv
                ELSE pv + (nv - pv)
                     * ((epoch(b.gts) - epoch(pts))
                        / (epoch(nts) - epoch(pts)))
           END AS value
    FROM b JOIN f ON b.k = f.k AND b.gts = f.gts
"""


@query("resample_interp", RESAMPLE_INTERP_ORACLE)
def _resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling (the other
    resample_timeseries strategy): each grid hour's value interpolates
    between the straddling observations on the epoch-seconds axis
    (boundary hours fall back to the nearest observation). Integer
    epoch differences keep the frac exact-input IEEE math identical
    across engines; the oracle uses a backward + forward native ASOF
    JOIN pair."""
    from knime_core_columnar_spark.operators.temporal import (
        resample_timeseries,
    )

    e = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").cast("double").alias("value"))
    )
    return resample_timeseries(
        e, "user_id", "ts", "value", step="1 hour", strategy="interp"
    )


CURRICULUM_ORDER_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS BIGINT)
             AS curriculum_pos
    FROM t
"""


@query("curriculum_order", CURRICULUM_ORDER_ORACLE)
def _curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: every document's 0-based position in the
    short-to-long training order (the classic length curriculum;
    doc_id tie-break makes the order total). The global rank comes
    from sampling.global_index — range-partitioned two-phase prefix
    sum, NOT a single-reducer ROW_NUMBER window — so the ordering step
    a curriculum dataloader shards by survives a 100 TB corpus. The
    oracle IS the single-reducer window, validating the distributed
    numbering against the naive total order."""
    from knime_core_columnar_spark.operators.sampling import global_index
    from knime_core_columnar_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return global_index(
        d, [F.col("n_tokens"), F.col("doc_id")], "curriculum_pos"
    ).select(
        "doc_id", "n_tokens", F.col("curriculum_pos").cast("long").alias("curriculum_pos")
    )


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
def _temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    "hll_sketch_rollup",
    """
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS sketch_ok,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM documents
    GROUP BY source
    """,
)
def _hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketch table
    (operators.sketch.hll_sketch_table / hll_rollup): the corpus is
    aggregated ONCE into a per-(source, lang) DataSketches HLL table,
    persisted as parquet (binary sketch column), then the per-source
    distinct-doc count is answered from the STORED sketches alone —
    the pre-aggregation pattern that makes distinct-count dashboards
    affordable at 100 TB. Like ``approx_aggregates``, the checked
    result is the ERROR BOUND, not the estimate: ``sketch_ok`` is the
    Spark side's own |approx − exact|/exact ≤ 0.08 test (HLL lg_k=12
    rsd ≈ 1.6%, 0.08 ≈ 5σ — widened from 3σ per the round-7 advisory:
    a tail-probability miss on a future corpus shape must not surface
    as a hard gate red; the tight 3σ bound is asserted where it can be
    tolerance-tagged, tests/test_r8_round8.py), asserted TRUE by the
    oracle alongside the exact counts."""
    from knime_core_columnar_spark.operators.sketch import (
        hll_rollup,
        hll_sketch_table,
    )

    d = _t(spark, sf_dir, "documents")
    skt_dir = _artifact(
        spark, sf_dir, "hll_sketches", ("documents",),
        lambda out: hll_sketch_table(d, ["source", "lang"], "doc_id")
        .write.mode("overwrite").parquet(out),
    )
    stored = read_parquet(spark, skt_dir)
    roll = hll_rollup(stored, ["source"])
    exact = d.groupBy("source").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    return (
        roll.join(exact, "source")
        .select(
            "source",
            "exact_distinct",
            (
                F.abs(
                    F.col("approx_distinct").cast("double")
                    - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct").cast("double")
                <= F.lit(0.08)
            ).alias("sketch_ok"),
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# temperature_mixture_plan — alpha-smoothed multilingual mixture
# allocation (XLM/mT5 alpha-sampling), integer-exact largest-remainder
# split. alpha=0.5 (sqrt) because IEEE requires sqrt to be correctly
# rounded — pow() is not cross-engine deterministic.
# ---------------------------------------------------------------------------

_TEMPERATURE_MIXTURE_ORACLE = """
    WITH c AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(
               string_split_regex(trim(coalesce(text, '')), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT c.*,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS smoothed_weight
      FROM c
    ), t AS (
      SELECT SUM(CAST(smoothed_weight AS HUGEINT)) AS tot FROM w
    ), a AS (
      SELECT w.*,
             CASE WHEN tot > 0
               THEN CAST((CAST(100000 AS HUGEINT) * smoothed_weight)
                         // tot AS BIGINT) ELSE 0 END AS alloc0,
             CASE WHEN tot > 0
               THEN CAST((CAST(100000 AS HUGEINT) * smoothed_weight)
                         % tot AS BIGINT) ELSE 0 END AS rem,
             tot > 0 AS has_w
      FROM w, t
    ), r AS (
      SELECT 100000 - SUM(alloc0) AS resid FROM a
    ), f AS (
      SELECT a.*,
             CAST(alloc0 + CASE WHEN has_w AND
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) <= resid
               THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
      FROM a, r
    )
    SELECT source, n_docs, n_tokens, smoothed_weight, alloc_tokens,
           CAST(alloc_tokens AS DOUBLE) / 100000.0 AS share
    FROM f
"""


@query("temperature_mixture_plan", _TEMPERATURE_MIXTURE_ORACLE)
def _temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-smoothed mixture allocation
    (operators.sampling.temperature_mixture_plan, alpha=0.5, budget
    100k tokens over the documents sources): floor(sqrt(n)·1e6)
    integer weights, exact decimal largest-remainder split — Σalloc ==
    budget exactly. One corpus scan; everything downstream is
    source-table-sized."""
    from knime_core_columnar_spark.operators.sampling import (
        temperature_mixture_plan,
    )

    return temperature_mixture_plan(
        _t(spark, sf_dir, "documents"), source_col="source",
        budget=100_000, alpha=0.5,
    )

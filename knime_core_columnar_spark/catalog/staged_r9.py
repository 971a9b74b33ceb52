"""Round-9 staged queries.

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
    _tw,
)

# ---------------------------------------------------------------------------
# Round-9 query section (first driver-registered at the round-7 flip,
# which completed the staging program; the gates were then removed in
# the flat-registry refactor).
# ---------------------------------------------------------------------------

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


def _r9_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators.validate.k_anonymity_audit) over the
    customer quasi-identifiers (nation, market segment) at k=5 — the
    privacy release gate: one hash aggregation on the quasi tuple, a
    one-row report of groups and rows a release would expose."""
    from knime_core_columnar_spark.operators.validate import k_anonymity_audit

    return k_anonymity_audit(
        _t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=5
    )


CDC_APPLY_ORACLE = """
    WITH base AS (
      SELECT event_id, ts, user_id, value FROM (
        SELECT event_id, ts, user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE ts < TIMESTAMP '2024-01-15'
      ) WHERE rk = 1
    ), ch AS (
      SELECT event_id, ts, user_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events WHERE ts >= TIMESTAMP '2024-01-15'
    ), latest AS (
      SELECT * FROM (
        SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rk
        FROM ch
      ) WHERE rk = 1
    )
    SELECT event_id, ts, user_id, value
    FROM base WHERE user_id NOT IN (SELECT user_id FROM latest)
    UNION ALL
    SELECT event_id, ts, user_id, value FROM latest WHERE op <> 'D'
"""


def _r9_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog replay (operators.relational.apply_changelog): the
    base snapshot is each user's last event before Jan 15; events from
    Jan 15 on replay as a changelog where 'error' means DELETE and
    anything else upserts. Winner per key = greatest (ts, event_id) —
    a total order, so the final state is engine- and partitioning-
    exact. One window over the changelog only; base rows join, never
    window."""
    from knime_core_columnar_spark.operators.relational import apply_changelog
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        e.filter(F.col("ts") < cutoff)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("event_id", "ts", "user_id", "value")
    )
    changelog = e.filter(F.col("ts") >= cutoff).select(
        "event_id", "ts", "user_id", "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    return apply_changelog(
        base, changelog, keys=["user_id"], op_col="op",
        seq_cols=["ts", "event_id"],
    )


CONTAINMENT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> ('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT)) AS s
      FROM toks
    ), nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_overlap,
           CAST(len(a.s) AS BIGINT) AS size_a
    FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
    WHERE 5 * len(list_intersect(a.s, b.s)) >= 4 * len(a.s)
"""


def _r9_containment_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment ≥ 4/5
    (operators.dedup.containment_pairs) — the quote/excerpt detector
    Jaccard cannot be (a short doc embedded in a long host scores
    containment 1.0 but Jaccard ≈ 0). Inverted-index candidates +
    integer verify; the oracle is brute-force ordered-pairs
    list_intersect."""
    from knime_core_columnar_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", shingle_n=3, threshold_num=4, threshold_den=5
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


def _r9_concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _moji_oracle() -> str:
    """Mojibake oracle SQL, built at import from the SAME pattern
    constants the operator uses (operators/text.py keeps the PATTERN
    constants in \\u escapes; the catalog's damage-injection literals
    and text.py's explanatory comment do intentionally contain the raw
    sequences)."""
    from knime_core_columnar_spark.operators.text import (
        CONTROL_PATTERN,
        MOJIBAKE_PATTERN,
        REPLACEMENT_CHAR,
    )

    return f"""
    WITH corrupted AS (
      SELECT doc_id,
             text
             || (CASE WHEN doc_id % 3 = 0
                      THEN ' caf' || chr(195) || chr(169) ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN chr(65533) ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN chr(1) ELSE '' END) AS t2
      FROM documents
    ), counts AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t2, '{MOJIBAKE_PATTERN}')) AS BIGINT)
               AS n_mojibake,
             CAST(len(regexp_extract_all(t2, '{REPLACEMENT_CHAR}')) AS BIGINT)
               AS n_replacement,
             CAST(len(regexp_extract_all(t2, '{CONTROL_PATTERN}')) AS BIGINT)
               AS n_control
      FROM corrupted
    )
    SELECT doc_id, n_mojibake, n_replacement, n_control,
           (n_mojibake = 0 AND n_replacement = 0 AND n_control = 0) AS clean
    FROM counts
"""


MOJIBAKE_AUDIT_ORACLE = _moji_oracle()


def _r9_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (operators.text.mojibake_audit). The
    synthetic corpus is clean ASCII, so the query first injects
    deterministic damage — a double-decoded e-acute every 3rd doc, a
    U+FFFD every 5th, a C0 control byte every 7th — then runs the real
    operator. Zero-exchange scan-speed plan; the oracle counts the
    identical RE2 matches via regexp_extract_all."""
    from knime_core_columnar_spark.operators.text import mojibake_audit

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    corrupted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.lit(" cafÃ©")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("�")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit("\x01")).otherwise(F.lit("")),
        ),
    )
    return mojibake_audit(corrupted, "doc_id", "text")


TOKEN_BUDGET_PLAN_ORACLE = """
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT *,
             CAST(CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT)
                            % 9 = 4
                       THEN 0
                       ELSE 10 + (CAST(regexp_extract(source, '([0-9]+)$', 1)
                                       AS INT) % 7) * 5 END AS BIGINT)
               AS weight
      FROM src
    ), tot AS (
      SELECT CAST(SUM(weight) AS BIGINT) AS W FROM w WHERE weight > 0
    ), prefixed AS (
      SELECT w.*, W,
             CAST(n_tokens AS DOUBLE) / weight AS rk,
             SUM(n_tokens) OVER ord - n_tokens AS pt,
             SUM(weight) OVER ord - weight AS pw
      FROM w, tot WHERE weight > 0
      WINDOW ord AS (ORDER BY CAST(n_tokens AS DOUBLE) / weight, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), flags AS (
      SELECT *,
             MIN(CASE WHEN (24000 - pt) * weight >= n_tokens * (W - pw)
                      THEN 1 ELSE 0 END)
               OVER (ORDER BY rk, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
               AS saturated
      FROM prefixed
    ), sat AS (
      SELECT coalesce(SUM(CASE WHEN saturated THEN n_tokens END), 0) AS st,
             coalesce(SUM(CASE WHEN saturated THEN weight END), 0) AS sw
      FROM flags
    ), alloc AS (
      SELECT source, n_docs, n_tokens, weight, saturated,
             CAST(CASE WHEN saturated THEN n_tokens
                       ELSE (24000 - st) * weight // (W - sw) END AS BIGINT)
               AS alloc_tokens
      FROM flags, sat
      UNION ALL
      SELECT source, n_docs, n_tokens, weight, FALSE AS saturated,
             CAST(0 AS BIGINT) AS alloc_tokens
      FROM w WHERE NOT (weight > 0)
    )
    SELECT source, n_docs, n_tokens, weight, saturated, alloc_tokens,
           CASE WHEN n_tokens > 0
                THEN round(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6)
                ELSE 0.0 END AS sample_rate
    FROM alloc
"""


def _r9_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact water-filling token-budget mixture planning
    (operators.sampling.token_budget_plan): per-mille-ish weights
    derived deterministically from the source number (with two
    zero-weight sources exercising the excluded branch), budget 24000
    tokens — below the ~27k-token supply at the gate SFs so the
    high-weight sources saturate and the rest split the redistributed
    remainder (a genuine mixed case). Integer cross-multiplied
    saturation test; the only windows run over the ≤20-row source
    table."""
    from knime_core_columnar_spark.operators.sampling import token_budget_plan

    d = _t(spark, sf_dir, "documents")
    num = F.regexp_extract(F.col("source"), r"([0-9]+)$", 1).cast("int")
    weight = F.when(num % 9 == 4, F.lit(0)).otherwise(
        10 + (num % 7) * 5
    )
    return token_budget_plan(d, "source", weight, budget=24000)


DUP_SPAN_EXTRACT_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), x -> x <> '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS g
      FROM toks,
           UNNEST(generate_series(1, greatest(len(w) - 7, 0))) AS t(pos)
    ), flagged AS (
      SELECT doc_id, pos FROM grams
      WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2)
    ), with_prev AS (
      SELECT doc_id, pos,
             MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_end
      FROM flagged
    ), islands AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM with_prev
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_grams
    FROM islands GROUP BY doc_id, island
"""


def _r9_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span extraction (operators.dedup.dup_span_extract,
    k=8): maximal merged token intervals whose every 8-gram repeats
    corpus-wide — the removal ranges of suffix-array substring dedup,
    computed as hash-count + gaps-and-islands. ~2.1k flagged positions
    across 47 docs at sf0.01 collapse into a few hundred spans. The
    oracle replays the identical pipeline on gram STRINGS (Spark counts
    two-independent-seed xxhash64 key pairs — same multiset barring
    ~1e-13 collisions)."""
    from knime_core_columnar_spark.operators.dedup import dup_span_extract

    return dup_span_extract(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=8, min_count=2
    )


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


def _r9_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
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


TOKEN_FERTILITY_ORACLE = """
    WITH per_doc AS (
      SELECT lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(list_filter(string_split_regex(trim(
               regexp_replace(text, '([0-9]+|[^\\sA-Za-z0-9])', ' \\1 ', 'g')
             ), '\\s+'), x -> x <> '')) AS BIGINT) AS n_pieces,
             CAST(len(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           round(CAST(SUM(n_pieces) AS DOUBLE) / SUM(n_words), 6) AS pieces_per_word,
           round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_pieces), 6) AS chars_per_piece
    FROM per_doc GROUP BY lang
"""


def _r9_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: per language, whitespace words vs
    BPE-ish sub-word pieces (text.bpe_ish_token_count) and characters —
    pieces_per_word (fertility) and chars_per_piece (compression) are
    the go/no-go numbers for a tokenizer on a new language mix. One
    scan, one partially-aggregated groupBy(lang); ratios are single
    IEEE divisions of exact int64 sums."""
    from knime_core_columnar_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        token_count(F.col("text")).cast("long").alias("__w"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("__p"),
        F.length("text").cast("long").alias("__c"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("n_words"),
        F.sum("__p").alias("n_pieces"),
        F.sum("__c").alias("n_chars"),
        F.round(
            F.sum("__p").cast("double") / F.sum("__w").cast("double"), 6
        ).alias("pieces_per_word"),
        F.round(
            F.sum("__c").cast("double") / F.sum("__p").cast("double"), 6
        ).alias("chars_per_piece"),
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


def _r9_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
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


DUP_SPAN_APPLY_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), x -> x <> '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS g
      FROM toks,
           UNNEST(generate_series(1, greatest(len(w) - 7, 0))) AS t(pos)
    ), counts AS (
      SELECT g, count(*) AS c,
             MIN(doc_id * 1000000 + pos) AS win
      FROM grams GROUP BY g HAVING count(*) >= 2
    ), losers AS (
      SELECT doc_id, pos
      FROM grams JOIN counts USING (g)
      WHERE NOT (doc_id = win // 1000000 AND pos = win % 1000000)
    ), with_prev AS (
      SELECT doc_id, pos,
             MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_end
      FROM losers
    ), islands AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM with_prev
    ), cuts AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
      FROM islands GROUP BY doc_id, island
    ), cut_pos AS (
      SELECT DISTINCT doc_id, cp
      FROM cuts, UNNEST(generate_series(s, e - 1)) AS u(cp)
    ), posns AS (
      SELECT doc_id, i, w[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(w))) AS gi(i)
    ), kept AS (
      SELECT p.doc_id, p.i, p.tok, (cp.cp IS NOT NULL) AS cut
      FROM posns p LEFT JOIN cut_pos cp
        ON cp.doc_id = p.doc_id AND cp.cp = p.i
    )
    SELECT t.doc_id,
           CAST(COALESCE(count(kept.i), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(CASE WHEN kept.cut THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN NOT kept.cut THEN kept.tok END,
                               ' ' ORDER BY kept.i), '') AS clean_text
    FROM toks t LEFT JOIN kept ON kept.doc_id = t.doc_id
    GROUP BY t.doc_id
"""


def _r9_dup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-dedup REWRITE (operators.dedup.dup_span_apply,
    k=8): the corpus-first occurrence of every duplicated 8-gram
    survives, all other copies are cut, documents are reassembled from
    surviving tokens. Oracle replays winner selection (encoded
    min(doc*1e6+pos) — positions ≪ 1e6 at every gate SF), the island
    merge, and the token-level rebuild on gram STRINGS."""
    from knime_core_columnar_spark.operators.dedup import dup_span_apply

    return dup_span_apply(
        _tw(spark, sf_dir, "documents"), "doc_id", "text", k=8, min_count=2
    )


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


def _r9_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_drift_monitor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r9_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _norm_oracle() -> str:
    """normalize_text oracle, built from the SAME class constants the
    operator uses (kept in \\u escapes in operators/text.py)."""
    from knime_core_columnar_spark.operators.text import (
        DASH_PATTERN,
        DOUBLE_QUOTE_PATTERN,
        NBSP_PATTERN,
        SINGLE_QUOTE_PATTERN,
        ZERO_WIDTH_PATTERN,
    )

    return f"""
    WITH damaged AS (
      SELECT doc_id,
             text
             || (CASE WHEN doc_id % 3 = 0
                      THEN ' ' || chr(8216) || 'q' || chr(8217) || ' '
                           || chr(8220) || 'qq' || chr(8221) ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN chr(8203) || chr(8212) || 'dash' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0
                      THEN chr(160) || ' padded' ELSE '' END) AS t
      FROM documents
    ), n AS (
      SELECT doc_id, t,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t, '{ZERO_WIDTH_PATTERN}', '', 'g'),
                       '{SINGLE_QUOTE_PATTERN}', '''', 'g'),
                     '{DOUBLE_QUOTE_PATTERN}', '"', 'g'),
                   '{DASH_PATTERN}', '-', 'g'),
                 '{NBSP_PATTERN}', ' ', 'g'),
               '\\s+', ' ', 'g')) AS norm_text
      FROM damaged
    )
    SELECT doc_id, norm_text, (norm_text != t) AS changed FROM n
"""


NORMALIZE_TEXT_ORACLE = _norm_oracle()


def _r9_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typographic normalization (operators.text.normalize_text — the
    repair counterpart of mojibake_audit's detection): deterministic
    damage is injected (curly quotes every 3rd doc, zero-width +
    em-dash every 4th, NBSP every 5th), then the fixed normalization
    chain strips invisibles, unifies glyphs to ASCII, and collapses
    whitespace. Zero-exchange scan-speed plan; the oracle replays the
    identical regexp chain from the shared class constants."""
    from knime_core_columnar_spark.operators.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    damaged = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.lit(" \u2018q\u2019 \u201cqq\u201d"),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0, F.lit("\u200b\u2014dash")
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0, F.lit("\u00a0 padded")
            ).otherwise(F.lit("")),
        ),
    )
    return normalize_text(damaged, "doc_id", "text")


def _fix_moji_oracle() -> str:
    """fix_mojibake oracle: the identical ordered literal-replace chain,
    generated from the SAME MOJIBAKE_FIXES constant."""
    from knime_core_columnar_spark.operators.text import MOJIBAKE_FIXES

    expr = "t"
    for src, dst in sorted(MOJIBAKE_FIXES, key=lambda q: -len(q[0])):
        src_sql = "||".join(f"chr({ord(c)})" for c in src)
        dst_sql = "||".join(f"chr({ord(c)})" for c in dst) if dst != " " else "' '"
        expr = f"replace({expr}, {src_sql}, {dst_sql})"
    return f"""
    WITH damaged AS (
      SELECT doc_id,
             text
             || (CASE WHEN doc_id % 3 = 0
                      THEN ' caf' || chr(195) || chr(169) ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN chr(226) || chr(8364) || chr(8482) || 's quote'
                      ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0
                      THEN chr(194) || chr(160) || 'pad' ELSE '' END) AS t
      FROM documents
    )
    SELECT doc_id, {expr} AS fixed_text,
           CAST(length(t) - length({expr}) AS BIGINT) AS chars_removed
    FROM damaged
"""


FIX_MOJIBAKE_ORACLE = _fix_moji_oracle()


def _r9_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-decode repair (operators.text.fix_mojibake): deterministic
    damage injection (double-decoded e-acute every 3rd doc, curly-quote
    triple every 4th, NBSP pair every 5th), then the ordered
    literal-replace chain restores the intended characters. The oracle
    generates the identical chain from the shared MOJIBAKE_FIXES
    constant."""
    from knime_core_columnar_spark.operators.text import fix_mojibake

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    damaged = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.lit(" caf\u00c3\u00a9")).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.lit("\u00e2\u20ac\u2122s quote"),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0, F.lit("\u00c2\u00a0pad")
            ).otherwise(F.lit("")),
        ),
    )
    return fix_mojibake(damaged, "doc_id", "text")


# Direct registration (round-7 refactor: the staged-batch dicts and
# register_rX_queries() gating are gone — every section registers at
# import, and catalog/rotation.py orders the driver window).
QUERIES["fix_mojibake"] = _r9_fix_mojibake
ORACLES["fix_mojibake"] = FIX_MOJIBAKE_ORACLE
QUERIES["normalize_text"] = _r9_normalize_text
ORACLES["normalize_text"] = NORMALIZE_TEXT_ORACLE
QUERIES["curriculum_order"] = _r9_curriculum_order
ORACLES["curriculum_order"] = CURRICULUM_ORDER_ORACLE
QUERIES["resample_interp"] = _r9_resample_interp
ORACLES["resample_interp"] = RESAMPLE_INTERP_ORACLE
QUERIES["resample_ffill"] = _r9_resample_ffill
ORACLES["resample_ffill"] = RESAMPLE_FFILL_ORACLE
QUERIES["drift_monitor_batch"] = _r9_drift_monitor_batch
ORACLES["drift_monitor_batch"] = DRIFT_MONITOR_ORACLE
QUERIES["diverse_sample"] = _r9_diverse_sample
ORACLES["diverse_sample"] = DIVERSE_SAMPLE_ORACLE
QUERIES["dup_span_apply"] = _r9_dup_span_apply
ORACLES["dup_span_apply"] = DUP_SPAN_APPLY_ORACLE
QUERIES["numeric_drift_report"] = _r9_numeric_drift
ORACLES["numeric_drift_report"] = NUMERIC_DRIFT_ORACLE
QUERIES["calibration_report"] = _r9_calibration_report
ORACLES["calibration_report"] = CALIBRATION_REPORT_ORACLE
QUERIES["leakage_safe_split"] = _r9_leakage_safe_split
ORACLES["leakage_safe_split"] = LEAKAGE_SAFE_SPLIT_ORACLE
QUERIES["token_fertility"] = _r9_token_fertility
ORACLES["token_fertility"] = TOKEN_FERTILITY_ORACLE
QUERIES["dup_span_extract"] = _r9_dup_span_extract
ORACLES["dup_span_extract"] = DUP_SPAN_EXTRACT_ORACLE
QUERIES["mojibake_audit"] = _r9_mojibake_audit
ORACLES["mojibake_audit"] = MOJIBAKE_AUDIT_ORACLE
QUERIES["token_budget_plan"] = _r9_token_budget_plan
ORACLES["token_budget_plan"] = TOKEN_BUDGET_PLAN_ORACLE
QUERIES["benford_audit"] = _r9_benford_audit
ORACLES["benford_audit"] = BENFORD_AUDIT_ORACLE
QUERIES["k_anonymity_audit"] = _r9_k_anonymity_audit
ORACLES["k_anonymity_audit"] = K_ANONYMITY_ORACLE
QUERIES["cdc_apply_changelog"] = _r9_cdc_apply
ORACLES["cdc_apply_changelog"] = CDC_APPLY_ORACLE
QUERIES["containment_quotes"] = _r9_containment_quotes
ORACLES["containment_quotes"] = CONTAINMENT_ORACLE
QUERIES["concentration_profile"] = _r9_concentration_profile
ORACLES["concentration_profile"] = CONCENTRATION_ORACLE

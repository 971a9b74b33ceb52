"""Round-8 staged queries.

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
# Round-8 query section (driver-registered since the round-6 flip; the
# staging gates were removed in the round-7 flat-registry refactor).
# ---------------------------------------------------------------------------

JOIN_EXPLOSION_ORACLE = """
    WITH l AS (
      SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS n_left
      FROM events GROUP BY 1
    ), r AS (
      SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS n_right
      FROM events GROUP BY 1
    ), t AS (
      SELECT CAST((SELECT COUNT(*) FROM events) // 128 AS BIGINT) AS thr
    )
    SELECT l.key, CAST(l.n_left AS BIGINT) AS n_left,
           CAST(r.n_right AS BIGINT) AS n_right,
           CAST(l.n_left * r.n_right AS BIGINT) AS n_output_rows,
           CAST(ceil(CAST(l.n_left * r.n_right AS DOUBLE) / 5000000.0) AS INTEGER)
             AS salt_factor
    FROM l JOIN r USING (key), t
    WHERE l.n_left >= greatest(50, t.thr) AND r.n_right >= greatest(50, t.thr)
"""


def _r8_join_explosion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight (operators.relational.join_explosion_profile):
    which keys of a planned events⋈events stream-stream self-join would
    explode? Both sides scanned with Misra-Gries-bounded state + exact
    recount — never a full GROUP BY of the fact table; output is exact
    (every key heavy on BOTH sides, exact counts, exact row product,
    suggested salt fan-out). Thresholds scale with the table so the
    same query is sound at every sf."""
    from knime_core_columnar_spark.operators.relational import (
        join_explosion_profile,
    )

    e = _t(spark, sf_dir, "events")
    n = _table_meta(spark, sf_dir, "events").rows
    thr = max(50, n // 128)
    return join_explosion_profile(
        e, e, "event_type", "event_type", min_left=thr, min_right=thr,
        capacity=256, left_total=n, right_total=n,
    )


SOURCE_SIMILARITY_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), shr AS (
      SELECT d.source, unnest(sh.s) AS x
      FROM sh JOIN documents d USING (doc_id)
    ), h0 AS (
      SELECT source,
             ('0x' || substring(md5(x), 1, 15))::BIGINT % 2147483647 AS h
      FROM shr
    ), sig AS (
      SELECT source, t.i,
             MIN(((2 * t.i + 1) * h0.h + 104729 * t.i) % 2147483647) AS m
      FROM h0 CROSS JOIN range(16) t(i)
      GROUP BY source, t.i
    )
    SELECT a.source AS grp_a, b.source AS grp_b,
           CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
    GROUP BY a.source, b.source
"""


def _r8_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level similarity sketches
    (operators.dedup.minhash_group_signatures): one mergeable 16-component
    MinHash signature per source (elementwise min over member docs =
    MinHash of the shingle-set union), then all-pairs component-match
    counts — n_match/16 estimates the source-pair Jaccard without ever
    comparing documents. The signature table is one row per source, so
    the pair join broadcasts; the oracle replays the identical hash
    family in SQL."""
    from knime_core_columnar_spark.operators.dedup import (
        group_signature_matches,
        minhash_group_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_group_signatures(d, "source", "doc_id", "text",
                                    num_perm=16, shingle_n=3)
    return group_signature_matches(sigs, "source", num_perm=16)


LENGTH_BUCKETED_BATCHES_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n
      FROM documents
    ), nz AS (SELECT * FROM toks WHERE n > 0),
    b AS (
      SELECT doc_id, n,
             CASE WHEN n <= 1 THEN 0
                  ELSE CAST(length(bin(n - 1)) AS BIGINT) END AS bucket
      FROM nz
    ), r AS (
      SELECT bucket, n,
             ROW_NUMBER() OVER (PARTITION BY bucket
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|lenbatch'), doc_id)
               AS rk
      FROM b
    )
    SELECT bucket, CAST((rk - 1) // 32 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(MAX(n) * COUNT(*) AS BIGINT) AS padded_tokens
    FROM r GROUP BY bucket, (rk - 1) // 32
"""


def _r8_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning
    (operators.packing.length_bucketed_batches): power-of-two token-
    length classes via integer bit-length (no float log2), deterministic
    md5 order inside each bucket, 32-doc batches padding to their own
    max — the padding-efficiency batching strategy for variable-length
    SFT/eval sets, complementary to pack_sequences' concat packing."""
    from knime_core_columnar_spark.operators.packing import (
        length_bucketed_batches,
    )

    d = _t(spark, sf_dir, "documents")
    return length_bucketed_batches(d, "doc_id", "text", batch_size=32)


NOVELTY_SCORES_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> ('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT))
               AS s
      FROM toks
    ), rows_ AS (
      SELECT doc_id, unnest(s) AS h FROM sh WHERE len(s) > 0
    ), freq AS (
      SELECT h, COUNT(*) AS df FROM rows_ GROUP BY h
    )
    SELECT rows_.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN freq.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel
    FROM rows_ JOIN freq USING (h)
    GROUP BY rows_.doc_id
"""


def _r8_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (operators.dedup.shingle_novelty): the share
    of a doc's distinct shingles that occur nowhere else — the
    diversity-sampling signal complementary to boilerplate_ngrams.
    One shingle pass + one DF aggregation + one join back; integer
    output."""
    from knime_core_columnar_spark.operators.dedup import shingle_novelty

    d = _t(spark, sf_dir, "documents")
    return shingle_novelty(d, "doc_id", "text", shingle_n=3)


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


def _r8_stream_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
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


def _r8_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
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


URL_HOST_STATS_ORACLE = """
    WITH u AS (
      SELECT doc_id, lang,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
             || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
             || source || '.example.'
             || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END)
             || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
             || '/' || lang || '/page/' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)
               AS url
      FROM documents
    ), s AS (
      SELECT doc_id,
             regexp_replace(split_part(split_part(lower(trim(url)), '#', 1),
                                       '?', 1),
                            '^[a-z][a-z0-9+.-]*://', '') AS rest
      FROM u
    ), p AS (
      SELECT doc_id, split_part(rest, '/', 1) AS hostport,
             regexp_replace(substr(rest, length(split_part(rest, '/', 1)) + 1),
                            '/+$', '') AS path
      FROM s
    ), h AS (
      -- userinfo strip, then port, then www, then FQDN trailing dot
      -- (web.canonical_url_parts)
      SELECT doc_id, path,
             regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(hostport, '^[^/@]*@', ''),
                 ':[0-9]+$', ''), '^www\\.', ''), '\\.+$', '') AS host
      FROM p
    )
    SELECT host AS url_host,
           regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS url_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host || path) AS BIGINT) AS n_urls,
           CAST(MAX(CASE WHEN host IN ('src3.example.com', 'src3.example.org')
                           OR regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                              IN ('blocked.test')
                         THEN 1 ELSE 0 END) AS BOOLEAN) AS blocked
    FROM h GROUP BY host
"""


def _r8_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-host curation rollup
    (operators.web.canonicalize_url / host_stats). The synthetic corpus
    has no URL column, so the query first synthesizes one
    deterministically from (doc_id, source, lang) — mixed-case scheme,
    www prefix, explicit port, trailing slash, tracking query, fragment
    — exercising every canonicalization rule; page ids collide mod 50
    so re-crawl detection (n_docs vs n_urls) is non-trivial. Pure
    Catalyst string expressions; one host-keyed hash aggregation."""
    from knime_core_columnar_spark.operators.web import host_stats

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://")),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example."),
        F.when(did % 2 == 0, F.lit("com")).otherwise(F.lit("org")),
        F.when(did % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/page/"),
        (did % 50).cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 2 == 1, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return host_stats(
        d.withColumn("url", url),
        "url",
        blocklist=["src3.example.com", "src3.example.org", "blocked.test"],
    )


INCREMENTAL_ADMIT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' ')))
               AS s
      FROM toks
    ), nz AS (
      SELECT doc_id, s FROM sh WHERE len(s) > 0
    ), mh AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(s, x ->
                 ((2*i + 1) * (('0x' || substring(md5(x), 1, 15))::BIGINT
                               % 2147483647)
                  + 104729 * i) % 2147483647))) AS sig
      FROM nz
    ), bands AS (
      SELECT doc_id, b,
             md5(CAST(b AS VARCHAR) || '|'
                 || array_to_string(sig[b*4+1:b*4+4], ',')) AS key
      FROM mh, (SELECT unnest(range(0, 4)) AS b)
    ), cor AS (
      SELECT DISTINCT b, key FROM bands WHERE doc_id % 10 <> 0
    ), bat AS (
      SELECT doc_id, b, key FROM bands WHERE doc_id % 10 = 0
    ), hits AS (
      SELECT bat.doc_id, CAST(COUNT(cor.key) AS BIGINT) AS n
      FROM bat LEFT JOIN cor ON bat.b = cor.b AND bat.key = cor.key
      GROUP BY bat.doc_id
    )
    -- shingle-less batch docs (< shingle_n words) are admitted, not
    -- dropped: join back to the full batch id set (dedup.py parity)
    SELECT d.doc_id, CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hit_bands,
           COALESCE(hits.n, 0) = 0 AS admitted
    FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def _r8_incremental_dedup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission
    (operators.dedup.incremental_dedup_admit): every 10th doc plays the
    NEW ingest batch, the rest the existing corpus whose persisted
    ``minhash_band_table`` index is the only corpus artifact consulted
    — the daily-crawl admission pattern where per-ingest cost is
    O(batch) signatures + one key join, never a corpus re-read."""
    from knime_core_columnar_spark.operators.dedup import (
        incremental_dedup_admit,
        minhash_band_table,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    idx = minhash_band_table(corpus, "doc_id", "text", num_perm=16, bands=4)
    return incremental_dedup_admit(batch, idx, "doc_id", "text",
                                   num_perm=16, bands=4)


# Direct registration (round-7 refactor: the staged-batch dicts and
# register_rX_queries() gating are gone — every section registers at
# import, and catalog/rotation.py orders the driver window).
QUERIES["dsir_select"] = _r8_dsir_select
ORACLES["dsir_select"] = DSIR_SELECT_ORACLE
QUERIES["url_host_stats"] = _r8_url_host_stats
ORACLES["url_host_stats"] = URL_HOST_STATS_ORACLE
QUERIES["incremental_dedup_admit"] = _r8_incremental_dedup_admit
ORACLES["incremental_dedup_admit"] = INCREMENTAL_ADMIT_ORACLE
QUERIES["join_explosion_profile"] = _r8_join_explosion_profile
ORACLES["join_explosion_profile"] = JOIN_EXPLOSION_ORACLE
QUERIES["source_similarity"] = _r8_source_similarity
ORACLES["source_similarity"] = SOURCE_SIMILARITY_ORACLE
QUERIES["length_bucketed_batches"] = _r8_length_bucketed_batches
ORACLES["length_bucketed_batches"] = LENGTH_BUCKETED_BATCHES_ORACLE
QUERIES["novelty_scores"] = _r8_novelty_scores
ORACLES["novelty_scores"] = NOVELTY_SCORES_ORACLE
QUERIES["stream_quota_admission"] = _r8_stream_quota_admission
ORACLES["stream_quota_admission"] = STREAM_QUOTA_ADMISSION_ORACLE

"""Deduplication catalog queries: exact, MinHash-LSH, SimHash, n-gram and
embedding near-duplicates, connected components and cluster policies,
span- and paragraph-level dedup, containment, decontamination, entity
resolution and incremental admission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knime_core_columnar_spark.table import ColumnarTable

from knime_core_columnar_spark.catalog._registry import (
    _t,
    _table_meta,
    _tw,
    query,
)
from knime_core_columnar_spark.catalog.retrieval import _duck_rp_bucket


@query(
    "dedup_exact",
    """
    SELECT doc_id, fp FROM (
      SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
             ROW_NUMBER() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                                ORDER BY CAST(doc_id AS VARCHAR)) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: min-RowID survivor per normalized-text md5.
    Shuffles 16-byte hashes, not documents."""
    from knime_core_columnar_spark.operators.dedup import exact_dedup
    from knime_core_columnar_spark.operators.text import fingerprint

    d = ColumnarTable.from_dataframe(_t(spark, sf_dir, "documents"), key_columns=["doc_id"])
    survivors = exact_dedup(d, "text")
    return survivors.df.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "dedup_minhash_lsh",
    """
    WITH toks AS (
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
    )
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
    FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands × 4 rows) candidate pairs.
    Signature pass is narrow (array exprs, no explode of shingles); only
    4 band keys per doc are exploded and shuffled."""
    from knime_core_columnar_spark.operators.dedup import minhash_lsh_candidates

    d = _tw(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, "doc_id", "text", num_perm=16, bands=4)


@query(
    "dedup_simhash",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), hs AS (
      SELECT doc_id,
             list_transform(t, tok -> ('0x' || substring(md5(tok), 1, 15))::BIGINT) AS h
      FROM toks
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), j ->
             CASE WHEN list_sum(list_transform(h, x ->
                    CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash32
    FROM hs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (near-dup docs differ in few bits;
    simhash_near_pairs banding joins on pigeonholed chunks)."""
    from knime_core_columnar_spark.operators.dedup import simhash_table

    d = _t(spark, sf_dir, "documents")
    return simhash_table(d, "doc_id", "text", 32).withColumnRenamed("simhash", "simhash32")


@query(
    "ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), ex AS (
      SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa + sb - i) AS jaccard
    FROM inter WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.5
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 via inverted-index join (only
    docs sharing a shingle ever meet; at 100 TB feed LSH candidates in
    instead — ngram_jaccard_pairs(candidates=...))."""
    from knime_core_columnar_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


@query(
    "neardup_pipeline",
    """
    WITH toks AS (
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
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
    FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
              JOIN sh sb ON sb.doc_id = cand.id_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    """,
)
def neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate generation
    → exact Jaccard verification on candidates only. Cost scales with
    collision count, not n² — the 100 TB path (the exact-tier
    ngram_jaccard query is the ground-truth baseline; on low-diversity
    corpora its inverted-index join blows up quadratically)."""
    from knime_core_columnar_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    # r11: wide candidates, serial verify — the signature pass is the
    # compute-heavy side (shingles x 16 perm hashes per token) so it
    # gets the widened scan; the verify pass touches only LSH-survivor
    # docs (semi-join gate), where a full-text repartition costs more
    # than it parallelizes. Settled by a 7-repeat interleaved A/B in a
    # quiet window: serial min 1.96 / med 2.51 s vs wide-cand min 1.75
    # / med 2.36 s at sf0.1 (matches the isolated profile; two earlier
    # contradicting bench pairs were host noise).
    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(_tw(spark, sf_dir, "documents"), "doc_id", "text", num_perm=16, bands=4)
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5,
                               candidates=cand)


@query(
    "neardup_clusters",
    """
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
    )
    SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: verified near-dup pairs grouped into
    clusters by connected components (iterative min-label propagation,
    operators.dedup.connected_components), every document mapped to its
    canonical representative (min doc_id of its component; singletons map
    to themselves). The oracle computes the same closure with a DuckDB
    recursive CTE — a genuinely different evaluation strategy validating
    the iterative Spark loop."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    # r11: wide candidates, serial verify — the signature pass is the
    # compute-heavy side (shingles x 16 perm hashes per token) so it
    # gets the widened scan; the verify pass touches only LSH-survivor
    # docs (semi-join gate), where a full-text repartition costs more
    # than it parallelizes. Settled by a 7-repeat interleaved A/B in a
    # quiet window: serial min 1.96 / med 2.51 s vs wide-cand min 1.75
    # / med 2.36 s at sf0.1 (matches the isolated profile; two earlier
    # contradicting bench pairs were host noise).
    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(_tw(spark, sf_dir, "documents"), "doc_id", "text", num_perm=16, bands=4)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    return d.select("doc_id").join(
        comp, d["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("component")
    )


@query(
    "embedding_neardup",
    """
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
    ) WHERE cos >= 0.4
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact tier pinned as the
    ground-truth baseline (use_lsh=False opt-in; the operator default
    auto-switches to the bucketed LSH tier past 100k corpus rows —
    see embedding_neardup_lsh for the oracle-checked scale path)."""
    from knime_core_columnar_spark.operators.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, threshold=0.4, use_lsh=False,
        corpus_count=_table_meta(spark, sf_dir, "embeddings").rows,
    )


@query(
    "embedding_neardup_lsh",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_duck_rp_bucket('embedding', 64, 6)} AS bucket,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT id_a, id_b, cos FROM (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_dot_product(a.embedding::DOUBLE[], c.embedding::DOUBLE[])
                   / (a.nrm * c.nrm), 6) AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    ) WHERE cos >= 0.4
    """,
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-LSH near-dup tier — the 100 TB default path of
    embedding_near_dup_pairs, oracle-checked via embedded hyperplane
    constants (only same-bucket candidate pairs are scored; no corpus
    broadcast, no driver collect)."""
    from knime_core_columnar_spark.operators.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.4, dim=64, use_lsh=True, planes=6)


@query(
    "events_dedup_latest",
    """
    SELECT user_id, event_type, event_id AS last_event_id,
           ts AS last_ts, value AS last_value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest dedup policy (training pipelines: retain the latest
    crawl/snapshot per key) as a single hash aggregation: max of a
    (ts, event_id, value) struct — the unique (ts, event_id) prefix
    makes the lexicographic max deterministic and the trailing fields
    ride along. Partial-aggregates map-side; the shuffle moves one row
    per key, where the window formulation moves every row."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("user_id", "event_type").agg(
        F.max(F.struct(F.col("ts"), F.col("event_id"), F.col("value"))).alias("m")
    )
    return m.select(
        "user_id", "event_type",
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.ts").alias("last_ts"),
        F.col("m.value").alias("last_value"),
    )


@query(
    "component_stats",
    """
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
    ), m AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ), sizes AS (
      SELECT component, COUNT(*) AS sz FROM m GROUP BY component
    )
    SELECT sz AS cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY sz
    """,
)
def component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution — the dedup pipeline's summary
    report (how much of the corpus is duplicated, at what cluster
    sizes). Two cheap aggregations on top of the connected-components
    output; the oracle recomputes the closure with a recursive CTE."""
    clusters = neardup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


@query(
    "fuzzy_match_names",
    """
    WITH p AS (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[-1] AS block
      FROM part
    )
    SELECT a.block, COUNT(*) AS n_pairs,
           COUNT(DISTINCT a.p_partkey) AS n_left
    FROM p a JOIN p b
      ON a.block = b.block AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    GROUP BY a.block
    """,
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs meet only within a block
    key (last name token) — the classic entity-resolution shape that
    replaces the O(n²) cross product with a per-block join — then exact
    Levenshtein ≤ 2 verifies (length-gap pre-filter + thresholded
    banded DP).

    AGGREGATE-THROUGH-THE-JOIN: record-level pair counts reconstruct
    EXACTLY from name-level aggregates, so the expensive verification
    runs over DISTINCT names only (the same clique-contraction insight
    as entity_resolution, extended to the counting semantics):
      · same-name pairs all verify (lev = 0) → C(cnt, 2) per name;
      · a verified name pair (n1, n2) contributes cnt1·cnt2 record
        pairs (each unordered record pair counted once under the
        id_a < id_b convention);
      · a record is a LEFT (appears as the smaller id of some verified
        pair) iff some verified partner has a larger id: all but the
        max-id record of a multi-record name qualify via their own
        clique (cnt − 1), and the max-id record qualifies iff a
        verified neighbor name's max id exceeds it.
    At 100 TB the pair join touches |distinct names|, not |rows| —
    record-level cost is one hash aggregation."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    names = p.groupBy("block", "p_name").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("p_partkey").alias("maxid")
    )
    a = names.select(
        "block", F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"), F.col("maxid").alias("max_a"),
    )
    b = names.select(
        "block", F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"), F.col("maxid").alias("max_b"),
    )
    vp = (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        .filter(F.levenshtein("name_a", "name_b", 2) >= 0)
    )
    nbr = (
        vp.select("block", F.col("name_a").alias("p_name"),
                  F.col("max_b").alias("__nm"))
        .unionByName(vp.select("block", F.col("name_b").alias("p_name"),
                               F.col("max_a").alias("__nm")))
        .groupBy("block", "p_name")
        .agg(F.max("__nm").alias("nbr_max"))
    )
    per_name = names.join(nbr, ["block", "p_name"], "left").select(
        "block",
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("same_pairs"),
        (
            (F.col("cnt") - 1)
            + F.when(F.col("nbr_max") > F.col("maxid"), 1).otherwise(0)
        ).cast("long").alias("lefts"),
    )
    cross = vp.groupBy("block").agg(
        F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("cross_pairs")
    )
    return (
        per_name.groupBy("block")
        .agg(F.sum("same_pairs").alias("__sp"), F.sum("lefts").alias("__lf"))
        .join(cross, "block", "left")
        .select(
            "block",
            (F.col("__sp") + F.coalesce(F.col("cross_pairs"), F.lit(0)))
            .cast("long").alias("n_pairs"),
            F.col("__lf").cast("long").alias("n_left"),
        )
        .filter(F.col("n_pairs") > 0)
    )


@query(
    "contamination_check",
    """
    WITH toks AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|corpus'), 1, 15))::BIGINT
               % 10000 AS b,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, b,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), evd AS (
      SELECT DISTINCT doc_id, ('0x' || substring(md5(x), 1, 15))::BIGINT AS h
      FROM sh, unnest(s) AS u(x) WHERE b >= 8000
    ), tr AS (
      SELECT DISTINCT ('0x' || substring(md5(x), 1, 15))::BIGINT AS h
      FROM sh, unnest(s) AS u(x) WHERE b < 8000
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_ngrams FROM evd GROUP BY 1
    ), hits AS (
      SELECT evd.doc_id, COUNT(*) AS n_contaminated
      FROM evd JOIN tr USING (h) GROUP BY 1
    )
    SELECT tot.doc_id, n_ngrams,
           COALESCE(n_contaminated, 0) AS n_contaminated,
           CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
             AS contamination
    FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram contamination — the benchmark-hygiene pass of a
    training-data pipeline (operators.dedup.ngram_contamination): split
    documents 80/20 by key hash (reproducible, partitioning-independent),
    then for each eval doc report what fraction of its distinct 3-grams
    also occur anywhere in the train split. Shuffles only 60-bit shingle
    hashes; the md5 arithmetic is bit-identical in DuckDB, so the exact
    per-doc contamination ratio is oracle-gated."""
    from knime_core_columnar_spark.operators.dedup import ngram_contamination
    from knime_core_columnar_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket(["doc_id"], salt="corpus")
    train = d.filter(b < 8000)
    ev = d.filter(b >= 8000)
    return ngram_contamination(train, ev, "doc_id", "text", n=3)


@query(
    "boilerplate_ngrams",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, ('0x' || substring(md5(x), 1, 15))::BIGINT AS h
      FROM grams, unnest(s) AS u(x)
    ), nd AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), dfq AS (
      SELECT h, COUNT(*) AS dfc FROM sh GROUP BY h
    ), boiler AS (
      SELECT h FROM dfq, nd WHERE dfc * 100 >= 5 * n_docs
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_ngrams FROM sh GROUP BY 1
    ), hits AS (
      SELECT doc_id, COUNT(*) AS n_boilerplate
      FROM sh JOIN boiler USING (h) GROUP BY 1
    )
    SELECT tot.doc_id, n_ngrams,
           COALESCE(n_boilerplate, 0) AS n_boilerplate,
           CAST(COALESCE(n_boilerplate, 0) AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
             AS boilerplate_ratio
    FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
    """,
)
def boilerplate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-content detection (operators.dedup.boilerplate_ngrams):
    3-grams present in ≥5% of all documents are boilerplate; per-doc
    boilerplate ratio is the quality-gate signal. One shingle pass, one
    document-frequency aggregation over 60-bit hashes, broadcast
    semi-join back — exact integer threshold, fully oracle-gated."""
    from knime_core_columnar_spark.operators.dedup import boilerplate_ngrams

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_doc_pct=5
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


# ---------------------------------------------------------------------------

SEMDEDUP_ORACLE = """
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
    m AS (
      SELECT a1.vec_id AS id, a1.cell_id, e.embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
      FROM a1 JOIN embeddings e USING (vec_id)
    ),
    dropped AS (
      SELECT DISTINCT b.id AS id
      FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.id < b.id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
    )
    SELECT m.id AS vec_id, m.cell_id, dropped.id IS NULL AS keep
    FROM m LEFT JOIN dropped ON m.id = dropped.id
"""


DECONTAMINATE_BLOOM_ORACLE = """
    SELECT d.doc_id FROM documents d
    ANTI JOIN (
      SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id % 7 = 0
    ) c ON md5(d.text) = c.k
"""


@query("semantic_dedup", SEMDEDUP_ORACLE)
def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup embedding dedup (operators.semdedup.semantic_dedup):
    deterministic kmeans assignment + within-cluster cosine prune,
    min-id winner; the oracle unrolls seeds→assignment→pairwise in SQL."""
    from knime_core_columnar_spark.operators.semdedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, k=8, threshold=0.4,
        corpus_count=_table_meta(spark, sf_dir, "embeddings").rows,
    )


@query("decontaminate_bloom", DECONTAMINATE_BLOOM_ORACLE)
def _decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered EXACT decontamination (operators.bloom
    .bloom_anti_join): the simulated benchmark set is every 7th doc's
    text hash; result equals the plain anti-join (the oracle), but the
    plan keeps Bloom-negative rows (the vast majority at scale) out of
    the join entirely."""
    from knime_core_columnar_spark.operators.bloom import bloom_anti_join

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", F.md5("text").alias("k"))
    keys = d.filter(F.col("doc_id") % 7 == 0).select(F.md5("text").alias("k"))
    return bloom_anti_join(corpus, keys, "k", num_bits=1 << 18).select("doc_id")


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


@query("duplicate_span_profile", DUPLICATE_SPAN_PROFILE_ORACLE)
def _duplicate_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate profile (operators.dedup.duplicate_spans):
    content-defined anchors (word-hash ≡ 0 mod 8) make shifted copies
    line up; only (doc_id, span-hash) pairs shuffle."""
    from knime_core_columnar_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, window_words=16, anchor_stride=8)


SET_SIMILARITY_JOIN_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> ('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT)) AS s
      FROM toks
    ), nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS n_overlap,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS n_union
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(n_union AS BIGINT) AS n_union
    FROM pairs WHERE 5 * n_overlap >= 3 * n_union
"""


@query("set_similarity_join", SET_SIMILARITY_JOIN_ORACLE)
def _set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 3/5 self-join via PPJoin-style prefix filtering
    (operators.dedup.prefix_filter_jaccard_pairs) — zero false
    negatives, unlike the MinHash tier. The oracle is a brute-force
    all-pairs list_intersect in DuckDB over the same 60-bit shingle
    hashes: feasible at sf0.01, and precisely the quadratic scan the
    prefix filter provably reproduces without running it."""
    from knime_core_columnar_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold_num=3, threshold_den=5
    )


GOLDEN_RECORD_ORACLE = """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             string_split(p_name, ' ')[-1] AS block FROM part
    ), prs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM p a JOIN p b ON a.block = b.block AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION ALL
      SELECT id_b, id_a FROM prs
    ), reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.a, reach.label FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, MIN(label) AS entity FROM reach GROUP BY node
    ), assign AS (
      SELECT p.*, COALESCE(comp.entity, p.p_partkey) AS entity_id
      FROM p LEFT JOIN comp ON comp.node = p.p_partkey
    ), multi AS (
      SELECT entity_id FROM assign GROUP BY entity_id HAVING COUNT(*) > 1
    ), m AS (
      SELECT assign.* FROM assign JOIN multi USING (entity_id)
    ), bm AS (
      SELECT entity_id, p_brand,
             ROW_NUMBER() OVER (PARTITION BY entity_id
                                ORDER BY COUNT(*) DESC, p_brand) AS rk
      FROM m GROUP BY entity_id, p_brand
    ), tm AS (
      SELECT entity_id, p_type,
             ROW_NUMBER() OVER (PARTITION BY entity_id
                                ORDER BY COUNT(*) DESC, p_type) AS rk
      FROM m GROUP BY entity_id, p_type
    )
    SELECT m.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(m.p_partkey) AS canonical_id,
           MAX(m.p_size) AS max_size,
           MIN(bm.p_brand) AS brand_mode,
           MIN(tm.p_type) AS type_mode
    FROM m
    JOIN bm ON bm.entity_id = m.entity_id AND bm.rk = 1
    JOIN tm ON tm.entity_id = m.entity_id AND tm.rk = 1
    GROUP BY m.entity_id
"""


@query("golden_record", GOLDEN_RECORD_ORACLE)
def _golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge after entity resolution
    (operators.relational.golden_records): the same blocking + edit
    distance + connected components as the entity_resolution query,
    then each multi-record entity collapses to one golden record —
    mode-with-deterministic-tie-break for categoricals (brand, type),
    max for p_size, min p_partkey as the canonical id. The oracle
    replays survivorship with window functions over the recursive-CTE
    closure. Oracle practicality note: the DuckDB recursive closure is
    quadratic in component size and impractical at sf0.1 (an inherited
    property of the entity_resolution oracle, whose Spark side runs
    sf0.1 in ~35 s); driver comparisons run at sf0.01 where both sides
    are seconds."""
    from knime_core_columnar_spark.operators.dedup import connected_components
    from knime_core_columnar_spark.operators.relational import golden_records

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    # two-tier edge derivation (see entity_resolution): exact-name
    # collapse to min-id representatives, then blocked + length-gap +
    # thresholded-Levenshtein verification over DISTINCT names only —
    # clique contraction preserves components and min-id labels exactly
    names = p.groupBy("p_name", "block").agg(
        F.min("p_partkey").alias("rep")
    )
    a = names.select(F.col("rep").alias("id_a"),
                     F.col("p_name").alias("name_a"), "block")
    b = names.select(F.col("rep").alias("id_b"),
                     F.col("p_name").alias("name_b"), "block")
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
    assign = p.join(name_entity, "p_name").select(p["*"], "entity_id")
    multi = (
        assign.groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("entity_id")
    )
    members = assign.join(multi, "entity_id")
    g = golden_records(
        members, "entity_id", "p_partkey",
        mode_cols=["p_brand", "p_type"], max_cols=["p_size"],
    )
    return g.select(
        "entity_id",
        F.col("n_records").cast("long").alias("n_records"),
        F.col("canonical_id"),
        F.col("p_size_max").alias("max_size"),
        F.col("p_brand_mode").alias("brand_mode"),
        F.col("p_type_mode").alias("type_mode"),
    )


CLUSTER_CONSENSUS_LANG_ORACLE = (
    _NEARDUP_EDGE_CTE
    + """
    , reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.a, reach.label FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
    ), m AS (
      SELECT comp.cluster_id, d.doc_id, d.lang
      FROM comp JOIN documents d ON d.doc_id = comp.node
    ), lc AS (
      SELECT cluster_id, lang, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY COUNT(*) DESC, lang) AS rk
      FROM m GROUP BY cluster_id, lang
    ), agg AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM m GROUP BY cluster_id
    )
    SELECT agg.cluster_id, lc.lang AS consensus_lang, agg.n_docs,
           agg.n_langs, CAST(agg.n_docs - lc.n AS BIGINT) AS n_minority
    FROM agg JOIN lc ON lc.cluster_id = agg.cluster_id AND lc.rk = 1
    WHERE agg.n_docs > 1
    """
)


@query("cluster_consensus_lang", CLUSTER_CONSENSUS_LANG_ORACLE)
def _cluster_consensus_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language consensus over near-duplicate clusters: the lang-ID
    repair step of corpus curation (near-identical docs should agree on
    language; a minority label inside a dup cluster is usually a
    misclassification). Reuses the full near-dup machinery — MinHash
    LSH candidates → exact-Jaccard verify → connected components — then
    a per-cluster majority vote with a deterministic tie-break
    (max count, then smallest lang), plus the minority count a repair
    pass would flip. Only multi-doc clusters are reported."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, "doc_id", "text", num_perm=16, bands=4)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    m = comp.join(
        d.select("doc_id", "lang"), comp["node"] == F.col("doc_id")
    ).select(F.col("label").alias("cluster_id"), "doc_id", "lang")
    lc = m.groupBy("cluster_id", "lang").agg(F.count(F.lit(1)).alias("__n"))
    winner = lc.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("__n")).alias("__neg"), F.col("lang").alias("__v"),
                     F.col("__n").alias("__cnt"))
        ).alias("__w")
    ).select(
        "cluster_id", F.col("__w.__v").alias("consensus_lang"),
        F.col("__w.__cnt").alias("__win_n"),
    )
    agg = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return (
        agg.join(winner, "cluster_id")
        .filter(F.col("n_docs") > 1)
        .select(
            "cluster_id", "consensus_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_langs").cast("long").alias("n_langs"),
            (F.col("n_docs") - F.col("__win_n")).cast("long").alias("n_minority"),
        )
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


@query("source_similarity", SOURCE_SIMILARITY_ORACLE)
def _source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@query("novelty_scores", NOVELTY_SCORES_ORACLE)
def _novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (operators.dedup.shingle_novelty): the share
    of a doc's distinct shingles that occur nowhere else — the
    diversity-sampling signal complementary to boilerplate_ngrams.
    One shingle pass + one DF aggregation + one join back; integer
    output."""
    from knime_core_columnar_spark.operators.dedup import shingle_novelty

    d = _t(spark, sf_dir, "documents")
    return shingle_novelty(d, "doc_id", "text", shingle_n=3)


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


@query("incremental_dedup_admit", INCREMENTAL_ADMIT_ORACLE)
def _incremental_dedup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@query("containment_quotes", CONTAINMENT_ORACLE)
def _containment_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@query("dup_span_extract", DUP_SPAN_EXTRACT_ORACLE)
def _dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@query("dup_span_apply", DUP_SPAN_APPLY_ORACLE)
def _dup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def _cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def _phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
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


# ---------------------------------------------------------------------------
# dedup_paragraphs — corpus-wide exact paragraph dedup with document
# reassembly (C4 §2.2 / RefinedWeb §3.3 sub-document tier). Paragraph
# structure is synthesized with the same engine-identical left-to-right
# replace idiom as c4_line_filter (the corpus has no natural newlines);
# the oracle replays split -> trim -> first-occurrence election ->
# ordered reassembly relationally.
# ---------------------------------------------------------------------------


@query(
    "dedup_paragraphs",
    """
    WITH t AS (
      SELECT doc_id, replace(text, ' table ', chr(10)) AS text2
      FROM documents
    ), p AS (
      SELECT doc_id,
             unnest(range(1, len(paras) + 1)) AS pos,
             trim(unnest(paras)) AS para
      FROM (SELECT doc_id, string_split(text2, chr(10)) AS paras FROM t)
    ), k AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, pos) AS rn
      FROM p WHERE para <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                               ORDER BY pos), '') AS clean_text
    FROM k GROUP BY doc_id
    """,
)
def _dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup keeping the global first
    occurrence, documents reassembled from survivors
    (operators.dedup.dedup_paragraphs — the C4/RefinedWeb sub-document
    dedup stage whole-document dedup cannot express: repeated
    boilerplate paragraphs vanish everywhere but their first sighting).
    Paragraph structure is synthesized deterministically (every literal
    ' table ' becomes a newline, identical left-to-right non-overlapping
    replace in both engines — the proven c4_line_filter idiom); the
    operator then runs unmodified: posexplode, one hash-keyed
    first-occurrence window, one id-keyed reassembly aggregation."""
    from knime_core_columnar_spark.operators.dedup import dedup_paragraphs

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" table "), F.lit("\n"))
    )
    return dedup_paragraphs(d, "doc_id", "text", sep="\n")


# ---------------------------------------------------------------------------
# dedup_sentence_spans — the literal C4 §2.2 three-sentence-span dedup
# (operators.text.dedup_sentence_spans), completing the sub-document
# family at sentence granularity. Sentence punctuation synthesized with
# the ' table ' -> '. ' idiom; the oracle replays segmentation ->
# span election -> coverage removal -> reassembly relationally.
# ---------------------------------------------------------------------------


@query(
    "dedup_sentence_spans",
    """
    WITH t AS (
      SELECT doc_id, replace(text, ' table ', '. ') AS text2
      FROM documents
    ), m AS (
      SELECT doc_id,
             regexp_replace(text2, '([.!?]) +', '\\1' || chr(1), 'g')
               AS marked
      FROM t
    ), s AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(marked, chr(1)),
                                        x -> trim(x)),
                         x -> x <> '') AS sents
      FROM m
    ), sp AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(sents) - 2, 0) + 1)) AS pos,
             unnest(list_transform(
               range(1, greatest(len(sents) - 2, 0) + 1),
               i -> md5(array_to_string(sents[i:i+2], chr(1))))) AS h
      FROM s
    ), rn AS (
      SELECT doc_id, pos, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos)
               AS rn
      FROM sp
    ), cuts AS (
      SELECT DISTINCT doc_id, cut
      FROM rn, UNNEST(generate_series(pos, pos + 2)) u(cut)
      WHERE rn > 1
    ), agg AS (
      SELECT doc_id, count(*) AS n_cut, list(cut) AS cl
      FROM cuts GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(len(s.sents) AS BIGINT) AS n_sentences,
           CAST(COALESCE(agg.n_cut, 0) AS BIGINT) AS n_removed,
           array_to_string(
             list_filter(
               list_transform(range(1, len(s.sents) + 1),
                 i -> CASE WHEN NOT COALESCE(list_contains(agg.cl, i),
                                             FALSE)
                           THEN s.sents[i] END),
               x -> x IS NOT NULL),
             ' ') AS clean_text
    FROM s LEFT JOIN agg USING (doc_id)
    """,
)
def _dedup_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide three-sentence-span dedup — the LITERAL C4 §2.2
    rule ("we removed all but one of any three-sentence span occurring
    more than once"), at sentence granularity on the synthesized
    sentence structure. Globally-first occurrence survives; every
    other occurrence's sentences are deleted and documents reassembled
    from survivors. The oracle replays segmentation, span election,
    coverage removal, and ordered reassembly relationally."""
    from knime_core_columnar_spark.operators.text import (
        dedup_sentence_spans,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" table "), F.lit(". "))
    )
    return dedup_sentence_spans(d, "doc_id", "text", span_sentences=3)


# ---------------------------------------------------------------------------
# winnow_overlap — MOSS-style winnowing fingerprint overlap (the
# position-robust third dedup tier; operators/dedup.py:winnow_*). The
# oracle replays the EXACT algorithm in DuckDB list comprehensions:
# word 5-grams -> md5-60 hashes -> window-of-4 minima -> distinct ->
# inverted-index pair counts. Same md5 arithmetic as the green
# ngram_jaccard / neardup_pipeline oracles, so engine and oracle share
# only the hash definition, not code.
# ---------------------------------------------------------------------------


@query(
    "winnow_overlap",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
    ), kg AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_transform(range(1, len(t) - 4 + 1),
                                      i -> array_to_string(t[i:i+4], ' '))
                  ELSE [] END AS g
      FROM toks
    ), hs AS (
      SELECT doc_id,
             list_transform(g, x ->
               ('0x' || substring(md5(x), 1, 15))::BIGINT) AS h
      FROM kg WHERE len(g) >= 1
    ), fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(h) - 4, 0) + 1),
               i -> list_min(h[i+1:i+4]))) AS fps
      FROM hs
    ), ex AS (
      SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM fp
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, shared,
           CAST(shared AS DOUBLE) / least(na, nb) AS containment
    FROM pairs WHERE shared >= 2
    """,
)
def _winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03) partial-overlap
    pairs over the documents corpus: window-of-4 minima over word
    5-gram md5-60 hashes, distinct per doc, inverted-index join,
    containment = shared / min(|fps|). Guaranteed to surface any
    shared run of >= 8 tokens while posting only ~2/(w+1) of the
    k-gram hashes — the partial-overlap detector MinHash (whole-doc
    similarity) and dup_span (exact positions, full index cost) are
    not. The oracle replays the identical algorithm in DuckDB list
    comprehensions. max_df=None here (exactness contract); at corpus
    scale pass max_df to cull boilerplate postings (MOSS's own
    common-fingerprint drop)."""
    from knime_core_columnar_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, "doc_id", "text", k=5, w=4, min_shared=2
    )


# ---------------------------------------------------------------------------
# URL curation family (operators.urls) — web-corpus hygiene: parse,
# canonicalize (tracking-param strip, default-port strip, param sort),
# canonical-URL dedup, registered-domain rollup. The documents table
# carries no URL column, so both engines SYNTHESIZE the same messy URL
# per doc from md5-60 draws (mixed-case scheme/host, default and
# explicit ports, tracking params in shuffled order, fragments) — the
# oracle then replays parsing + canonicalization with the identical
# regexes and list algebra.
# ---------------------------------------------------------------------------

_URL_SYNTH_SQL = """
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|u1'),
                                1, 15))::BIGINT % 4 AS v1,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|u2'),
                                1, 15))::BIGINT % 4 AS v2,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|u3'),
                                1, 15))::BIGINT % 2 AS v3
      FROM documents
"""


_URL_BUILD_SQL = """
      SELECT doc_id,
             (['HTTPS', 'http', 'https', 'HtTp'][CAST(v1 + 1 AS INT)])
             || '://'
             || (['www.Example.COM', 'news.example.com',
                  'Blog.Example.co.uk', 'cdn.example.com']
                 [CAST(v1 + 1 AS INT)])
             || ([':443', '', '', ':8080'][CAST(v1 + 1 AS INT)])
             || '/p/' || CAST(doc_id % 120 AS VARCHAR)
             || (['?utm_source=feed&b=2&a=1', '?a=1&b=2',
                  '?b=2&a=1&gclid=XYZ', ''][CAST(v2 + 1 AS INT)])
             || (['#sec', ''][CAST(v3 + 1 AS INT)]) AS url
      FROM synth
"""


# DuckDB replay of operators.urls.canonicalize_url — identical regexes,
# identical tracking-param rules, identical sort.
_URL_CANON_SQL = r"""
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(
               regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               '^(?:[^@]*@)?([^:]*)', 1)) AS host,
             regexp_extract(
               regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               ':([0-9]+)$', 1) AS port,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
             list_sort(list_filter(
               string_split(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '&'),
               p -> p <> ''
                 AND NOT starts_with(lower(
                       CASE WHEN instr(p, '=') > 0
                            THEN split_part(p, '=', 1) ELSE p END),
                       'utm_')
                 AND NOT list_contains(
                       ['gclid', 'fbclid', 'msclkid', 'mc_cid', 'mc_eid',
                        'ref', 'ref_src', 'igshid'],
                       lower(CASE WHEN instr(p, '=') > 0
                                  THEN split_part(p, '=', 1) ELSE p END))
             )) AS kept
      FROM urls
"""


_URL_CANON_FINISH_SQL = """
      SELECT doc_id, url,
             scheme || '://' || host
             || (CASE WHEN port = '' THEN ''
                      WHEN scheme = 'http'  AND port = '80'  THEN ''
                      WHEN scheme = 'https' AND port = '443' THEN ''
                      WHEN scheme = 'ftp'   AND port = '21'  THEN ''
                      ELSE ':' || port END)
             || path
             || (CASE WHEN len(kept) > 0
                      THEN '?' || array_to_string(kept, '&')
                      ELSE '' END) AS canon_url,
             host
      FROM parts
"""


_URL_DEDUP_ORACLE = f"""
    WITH synth AS ({_URL_SYNTH_SQL}),
    urls AS ({_URL_BUILD_SQL}),
    parts AS ({_URL_CANON_SQL}),
    canon AS ({_URL_CANON_FINISH_SQL}),
    winners AS (
      SELECT md5(canon_url)[1:16] AS uk, MIN(doc_id) AS doc_id
      FROM canon GROUP BY md5(canon_url)[1:16]
    )
    SELECT c.doc_id, c.url, c.canon_url
    FROM canon c JOIN winners w
      ON w.doc_id = c.doc_id AND w.uk = md5(c.canon_url)[1:16]
"""


@query("url_dedup_canonical", _URL_DEDUP_ORACLE)
def _url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (operators.urls.url_dedup): synthesize one
    messy URL per document (mixed-case scheme/host, default and
    explicit ports, shuffled tracking params, fragments), canonicalize
    (lower scheme/host, strip default port / fragment / tracking
    params, sort survivors), keep the min-doc_id row per canonical
    form. Election is the round-10 min+semi-join pattern — no Window
    over the URL hash. Zero-exchange until the (md5-16, id) election."""
    from knime_core_columnar_spark.operators.urls import url_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id")
    urls = d.select("doc_id", _synth_url().alias("url"))
    return url_dedup(urls, "doc_id", "url").select(
        "doc_id", "url", "canon_url"
    )


def _synth_url():
    """Spark twin of the oracle's URL synthesis (same md5-60 draws)."""
    did = F.col("doc_id").cast("string")

    def draw(salt: str, mod: int):
        return (
            F.conv(F.substring(F.md5(F.concat(did, F.lit(salt))), 1, 15),
                   16, 10).cast("long") % mod
        ).cast("int")

    v1, v2, v3 = draw("|u1", 4), draw("|u2", 4), draw("|u3", 2)
    pick = lambda arr, v: F.element_at(  # noqa: E731
        F.array(*[F.lit(x) for x in arr]), v + 1
    )
    return F.concat(
        pick(["HTTPS", "http", "https", "HtTp"], v1),
        F.lit("://"),
        pick(["www.Example.COM", "news.example.com",
              "Blog.Example.co.uk", "cdn.example.com"], v1),
        pick([":443", "", "", ":8080"], v1),
        F.lit("/p/"), (F.col("doc_id") % 120).cast("string"),
        pick(["?utm_source=feed&b=2&a=1", "?a=1&b=2",
              "?b=2&a=1&gclid=XYZ", ""], v2),
        pick(["#sec", ""], v3),
    )


# ---------------------------------------------------------------------------
# neardup_keep_longest — cluster canonicalization policy: within each
# near-dup cluster keep the LONGEST member (ties -> min doc_id), the
# SlimPajama-style alternative to min-id canonical selection. Composes
# the full near-dup stack (MinHash-LSH candidates -> Jaccard verify ->
# connected components) with a token-length election.
# ---------------------------------------------------------------------------

_KEEP_LONGEST_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ), mh AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(s, x ->
                 ((2*i + 1) * (('0x' || substring(md5(x), 1, 15))::BIGINT
                               % 2147483647)
                  + 104729 * i) % 2147483647))) AS sig
      FROM sh
    ), bands AS (
      SELECT doc_id, b,
             md5(CAST(b AS VARCHAR) || '|'
                 || array_to_string(sig[b*4+1:b*4+4], ',')) AS key
      FROM mh, (SELECT unnest(range(0, 4)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    ), verified AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
                JOIN sh sb ON sb.doc_id = cand.id_b
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
            >= 0.5
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
    ), fullc AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component,
             CAST(len(t.t) AS BIGINT) AS n_tokens
      FROM documents d
      LEFT JOIN comp ON comp.node = d.doc_id
      JOIN toks t ON t.doc_id = d.doc_id
    ), mx AS (
      SELECT component, MAX(n_tokens) AS mxn FROM fullc GROUP BY component
    ), win AS (
      SELECT f.component, MIN(f.doc_id) AS canonical_id
      FROM fullc f JOIN mx ON mx.component = f.component
                  AND f.n_tokens = mx.mxn
      GROUP BY f.component
    )
    SELECT f.doc_id, f.component, f.n_tokens,
           f.doc_id = w.canonical_id AS keep
    FROM fullc f JOIN win w ON w.component = f.component
"""


@query("neardup_keep_longest", _KEEP_LONGEST_ORACLE)
def _neardup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster canonicalization by the keep-longest policy: the full
    near-dup stack (MinHash-LSH bands → n-gram Jaccard verify ≥ 0.5 →
    connected components) composed with a token-length election — per
    component keep the member with the most tokens, ties to the
    smallest doc_id. Election is aggregates + joins (max-tokens table,
    then min-id among maximal members), never a per-component Window —
    the biggest cluster on a web corpus is boilerplate and would pin a
    window task. Singletons keep themselves."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from knime_core_columnar_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, "doc_id", "text", num_perm=16, bands=4)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    fullc = (
        d.select(
            "doc_id", token_count("text").cast("long").alias("n_tokens")
        )
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("component"),
            "n_tokens",
        )
    )
    mx = fullc.groupBy("component").agg(F.max("n_tokens").alias("__mx"))
    winners = (
        fullc.join(mx, "component")
        .filter(F.col("n_tokens") == F.col("__mx"))
        .groupBy("component")
        .agg(F.min("doc_id").alias("__canon"))
    )
    return fullc.join(winners, "component").select(
        "doc_id", "component", "n_tokens",
        (F.col("doc_id") == F.col("__canon")).alias("keep"),
    )

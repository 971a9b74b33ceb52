"""Deterministic sampling and dataset splitting.

Training pipelines need sampling that is reproducible across runs,
engines, and cluster sizes — `df.sample()`/`randomSplit()` are
partition-order-dependent and give different rows on a re-run with
different parallelism. The operators here derive the decision from a
cryptographic hash of the ROW KEY instead: the same row always lands in
the same split no matter how the data is partitioned, new rows don't
reshuffle old assignments (stable holdout sets), and the assignment is
expressible in ANSI SQL, so it is part of the DuckDB correctness gate.

Hash: first 15 hex digits of md5(key || '|' || salt) as an integer
(< 2^60, always positive), taken mod 10_000 for 0.01% granularity.
Pure Catalyst expressions — codegen, no UDF, no shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from knime_core_columnar_spark.session import checkpoint

__all__ = [
    "hash_bucket",
    "deterministic_sample",
    "hash_split",
    "global_index",
    "distributed_cumsum",
    "seeded_shuffle",
    "mixture_report",
    "weighted_sample_topk",
    "dsir_logratio",
]

_BUCKETS = 10_000


def hash_bucket(key_cols: Sequence[str], salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from the given key columns + salt."""
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols], F.lit(salt)
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % _BUCKETS


def deterministic_sample(
    df: DataFrame, key_cols: Sequence[str], fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — reproducible and
    partitioning-independent, unlike ``df.sample``."""
    # round(), not int(): truncation turns 0.3*10000 == 2999.999... into
    # 2999, shifting the boundary a bucket off the documented granularity.
    return df.filter(hash_bucket(key_cols, salt) < int(round(fraction * _BUCKETS)))


def _stratum_keep_expr(
    key_cols: Sequence[str],
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float,
    salt: str,
) -> Column:
    """The per-stratum keep decision shared by ``stratified_sample`` and
    ``mixture_report`` — ONE definition so the report is always a
    faithful preview of the sample (any drift between two copies of
    this expression would silently break that contract)."""
    b = hash_bucket(key_cols, salt)
    expr = F.lit(False)
    for stratum, frac in fractions.items():
        expr = expr | (
            (F.col(strata_col) == stratum) & (b < int(round(frac * _BUCKETS)))
        )
    # NULL strata must take the default branch too: ~isin(...) is NULL
    # for a NULL stratum and NULL & pred filters the row out silently
    listed = F.coalesce(F.col(strata_col).isin(*fractions.keys()), F.lit(False))
    return expr | (~listed & (b < int(round(default_fraction * _BUCKETS))))


def stratified_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum deterministic sampling (the reproducible twin of
    ``df.sampleBy``): each stratum keeps its own fraction, decided by
    the row-key hash — rebalancing class distributions for training
    data without partition-order dependence. Strata not listed keep
    ``default_fraction``. Pure Catalyst expressions, no shuffle."""
    return df.filter(
        _stratum_keep_expr(key_cols, strata_col, fractions, default_fraction, salt)
    )


def hash_split(
    df: DataFrame,
    key_cols: Sequence[str],
    fractions: Mapping[str, float] | None = None,
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Append a split label ('train'/'val'/'test' by default, 80/10/10)
    assigned by key hash. Fractions must sum to 1; the last split
    absorbs rounding. Disjoint and exhaustive by construction."""
    fractions = dict(fractions or {"train": 0.8, "val": 0.1, "test": 0.1})
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    b = hash_bucket(key_cols, salt)
    names = list(fractions)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        branch = b < int(round(cum * _BUCKETS))
        expr = F.when(branch, name) if expr is None else expr.when(branch, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def global_index(
    df: DataFrame,
    order_cols: Sequence[Column],
    pos_col: str,
) -> DataFrame:
    """Stable 0-based global position in ``order_cols`` order WITHOUT a
    single-task global window: range-partitioned distributed sort, then
    the zipWithIndex trick — per-partition counts (one tiny job) become
    broadcast offsets added to per-partition-local row numbers. The
    order must be TOTAL (include a unique tie-break column) or
    positions within ties are partition-order-dependent.

    Shared by ``seeded_shuffle`` (epoch permutation) and
    ``text.build_vocab`` (frequency-ranked ids); a position is just the
    exclusive prefix sum of ones, so this delegates to
    ``distributed_cumsum`` — ONE copy of the correctness-sensitive
    two-phase machinery (whose checkpoint guarantees the
    totals pass and the numbering pass see the same partitioning, with
    or without exchange reuse)."""
    return distributed_cumsum(df, order_cols, F.lit(1), pos_col, exclusive=True)


def seeded_shuffle(
    df: DataFrame,
    key_cols: Sequence[str],
    seed: str = "epoch0",
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global shuffle: every row gets a stable 0-based
    position in the order of ``md5(key || '|' || seed)`` — the
    epoch-reshuffle a training pipeline runs before sharding, but
    reproducible across runs and cluster sizes (change ``seed`` per
    epoch for a fresh permutation). Positions via ``global_index``
    (distributed sort + offset trick, no single-reducer window)."""
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols], F.lit(seed)
    )
    tie = [F.col(c) for c in key_cols]
    s = df.withColumn("__h", F.md5(key))
    return global_index(s, [F.col("__h"), *tie], pos_col).drop("__h")


def mixture_report(
    df: DataFrame,
    key_cols: Sequence[str],
    strata_col: str,
    fractions: Mapping[str, float],
    weight_col: Column | None = None,
    default_fraction: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Data-mixture audit for training-set composition: apply the same
    per-stratum deterministic keep-decision as ``stratified_sample``,
    but WITHOUT filtering — return one row per stratum with total rows,
    kept rows, and (optionally) total/kept weight (e.g. token counts),
    so a pipeline can verify its source-mixing ratios and token budget
    before materializing anything. Adding data never changes an existing
    row's keep decision (stable hash), so the report is a faithful
    preview of the sampled corpus — the decision expression AND its
    default salt are shared with ``stratified_sample``, so calling both
    at defaults previews/materializes the SAME corpus.

    One scan, one partial-aggregated groupBy on the stratum — no join,
    no window; the keep decision is a pure codegen expression.
    """
    expr = _stratum_keep_expr(
        key_cols, strata_col, fractions, default_fraction, salt
    )
    kept = expr.cast("int")
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).alias("n_kept"),
    ]
    if weight_col is not None:
        aggs += [
            F.sum(weight_col.cast("long")).alias("w_total"),
            F.sum(F.when(expr, weight_col.cast("long")).otherwise(0)).alias("w_kept"),
        ]
    return df.groupBy(strata_col).agg(*aggs)


def weighted_sample_topk(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: Column,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (the A-ExpJ /
    exponential-race scheme): every row draws a stable pseudo-uniform
    u from its key hash and gets priority ``-ln(u) / w``; the k SMALLEST
    priorities win — inclusion probability ∝ weight, the standard
    quality-weighted curation pass, but reproducible across runs,
    engines, and cluster sizes (no RNG state).

    u = (bucket + 0.5) / 10000 — never 0 or 1, so ln is finite and the
    priority is total-ordered; ties broken by the key columns. The sort
    is top-k (TakeOrderedAndProject: per-partition heaps, no global
    sort)."""
    # full-precision priority — NO rounding: both engines compute the
    # identical double (same hash, same ln, same divide), and absolute
    # rounding would collapse large-weight priorities (all ≪ 1e-9 for
    # w ≥ 1e5) into ties that the key tie-break would then resolve by
    # id order, silently breaking weight-proportional inclusion.
    u = (hash_bucket(key_cols, salt).cast("double") + 0.5) / float(_BUCKETS)
    prio = -F.log(u) / weight_col.cast("double")
    return (
        df.withColumn("__prio", prio)
        .orderBy(F.col("__prio"), *[F.col(c) for c in key_cols])
        .limit(k)
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: Sequence[Column],
    value_col: Column,
    out_col: str = "cumsum",
    exclusive: bool = False,
) -> DataFrame:
    """Cumulative sum in a TOTAL order without a single-task global
    window: range-partitioned sort, per-partition totals become
    broadcast offsets (the two-phase scan, same machinery as
    ``global_index``), local running sums add the offset. Exact for
    integer inputs — identical to a single-window ``SUM() OVER (ORDER
    BY ...)`` at any parallelism. ``exclusive=True`` gives the
    sum of strictly-preceding rows (the bin-packing prefix).

    The sorted frame is checkpointed (``session.checkpoint``) before
    the totals and numbering passes: both consume the SAME materialized
    partitions, so ``spark_partition_id()`` agrees between them by
    construction — correctness no longer depends on Catalyst's
    exchange-reuse firing
    (``spark.sql.exchange.reuse``, AQE re-planning, or a
    nondeterministic source could otherwise silently desynchronize the
    offsets). Cost: the sorted rows are written once — the same I/O a
    shuffle of this frame already pays, and strictly cheaper than a
    wrong answer."""
    from pyspark.sql import Window

    s = checkpoint(
        df.withColumn("__val", value_col.cast("long"))
        .orderBy(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = s.groupBy("__pid").agg(F.sum("__val").alias("__t"))
    w_cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__t").over(w_cum), F.lit(0)).alias("__off")
    )
    hi = -1 if exclusive else 0
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(F.monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = F.coalesce(F.sum("__val").over(w_local), F.lit(0))
    return (
        s.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (local + F.col("__off")).cast("long"))
        .drop("__pid", "__val", "__off")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches
# ---------------------------------------------------------------------------

def hll_shard_sketches(
    df,
    key,
    shard_col,
    lg_k: int = 12,
):
    """Per-shard HyperLogLog sketches for incremental distinct-count
    maintenance — the sketch-table pattern behind every incremental
    ingestion dashboard: each shard (day, source, ingest batch) keeps a
    fixed-size binary sketch; the GLOBAL distinct count is a sketch
    union, never a re-scan of history.

    Uses Spark's native Apache DataSketches HLL aggregates (JVM-side,
    partial-aggregated): the per-shard sketch is ~2^lg_k bytes
    regardless of shard size, and union is associative and
    commutative — exactly the mergeable-aggregate contract
    incremental_agg_merge implements for count/sum, extended to
    COUNT(DISTINCT). Estimates are deterministic for a given input SET
    (hashing is seed-fixed) but approximate vs the exact count, so this
    surface is pytest-gated (error bound + merge associativity +
    union == whole-corpus sketch) rather than DuckDB-compared.

    Returns one row per shard: ``shard_col``, ``sketch`` (binary),
    ``estimate`` (long).
    """
    from pyspark.sql import functions as F

    k = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(shard_col)
        .agg(F.hll_sketch_agg(k, F.lit(lg_k)).alias("sketch"))
        .select(
            shard_col,
            "sketch",
            F.hll_sketch_estimate("sketch").alias("estimate"),
        )
    )


def hll_merge_estimate(sketches, lg_k: int = 12):
    """Union a sketch table into one global distinct estimate (one row:
    ``estimate``). At 100 TB this reads |shards| kilobyte-sized rows —
    the whole point: history never re-scans."""
    from pyspark.sql import functions as F

    return sketches.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(False))
        ).alias("estimate")
    )


def grouped_kfold(
    df: DataFrame,
    group_cols: Sequence[str],
    k: int = 5,
    salt: str = "kfold",
    fold_col: str = "fold",
):
    """Leakage-safe k-fold assignment: every row of a GROUP (user,
    document source, session — whatever unit correlated rows share)
    lands in the same fold, so no group straddles a train/validation
    boundary. Fold = md5 hash of the group key — deterministic,
    partitioning-independent, stable across reruns and engines (same
    keyed-hash family as ``hash_split``), and computed without a
    shuffle: one codegen expression per row, no join against a group
    table.

    Returns the input with ``fold_col`` appended (0..k-1)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in group_cols])
    h = F.conv(
        F.substring(F.md5(F.concat(key, F.lit("|" + salt))), 1, 15), 16, 10
    ).cast("long")
    return df.withColumn(fold_col, (h % k).cast("int"))


def kfold_audit(
    df: DataFrame,
    group_cols: Sequence[str],
    fold_col: str = "fold",
):
    """Audit frame for a fold assignment: per fold, row count, group
    count, and the number of LEAKED groups (groups also present in
    another fold — structurally 0 for grouped_kfold output; nonzero
    flags a hand-rolled assignment that split a group). One aggregation
    over (group, fold) pairs, then a fold-level rollup."""
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in group_cols])
    per_group = (
        df.select(key.alias("__g"), F.col(fold_col))
        .groupBy("__g", fold_col)
        .agg(F.count(F.lit(1)).alias("__rows"))
    )
    spread = per_group.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__nfolds")
    )
    return (
        per_group.join(spread, "__g")
        .groupBy(fold_col)
        .agg(
            F.sum("__rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("__nfolds") > 1).cast("long")).alias("n_leaked_groups"),
        )
    )


def quota_sample(
    df,
    group_col: str,
    id_col: str,
    scale: int = 10,
    salt: str = "quota",
):
    """Per-group quota capping with sqrt temperature — the domain/source
    rebalancing step of web-corpus curation (cap docs per domain so a
    handful of giant hosts cannot dominate the training mix, while small
    sources keep proportionally MORE of their docs).

    Quota per group g with n_g rows: ``min(n_g, floor(scale·sqrt(n_g)))``
    — the sqrt "temperature" used for multilingual/source rebalancing:
    a 100× bigger source keeps only 10× more docs. Which rows survive is
    decided by a deterministic md5 order (hash of ``id_col`` + salt, ties
    by id), so the kept set is a uniform-at-random-looking, seed-stable
    sample independent of partitioning and input order.

    sqrt/floor are safe cross-engine: IEEE-754 sqrt and multiply are
    correctly rounded, so every engine computes the identical double and
    the identical floor.

    Scale shape: one hash-partitioned window per group (count + rank) —
    no global window, no shuffle beyond the group partitioning. Returns
    the input rows that survive, plus (__n_group, __quota, __rank)
    audit columns.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)))
    wg = Window.partitionBy(group_col)
    ranked = (
        df.withColumn("__rank",
                      F.row_number().over(wg.orderBy(h, F.col(id_col))))
        .withColumn("__n_group", F.count(F.lit(1)).over(wg))
    )
    quota = F.least(
        F.col("__n_group"),
        F.floor(F.lit(scale) * F.sqrt(F.col("__n_group"))).cast("long"),
    )
    return ranked.withColumn("__quota", quota).filter(
        F.col("__rank") <= F.col("__quota")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    test_permille: int = 100,
    val_permille: int = 100,
    salt: str = "split",
) -> DataFrame:
    """Cluster-aware train/val/test split: near-duplicate documents must
    never straddle a split boundary (a test doc whose near-copy sits in
    train is silent eval contamination), so the split decision is made
    per CONNECTED COMPONENT of the duplicate graph, not per document.
    ``pairs`` is any (id_a, id_b) near-dup edge list — MinHash+LSH
    verified pairs, exact-dup pairs, containment edges, or their union.

    Every doc maps to its component label (min id; singletons to
    themselves — ``connected_components`` handles the propagation) and
    the split is a salted hash of the LABEL: test gets
    ``test_permille``/1000 of clusters, val the next slice, train the
    rest. Deterministic, partitioning-independent, and stable under
    corpus growth ONLY for unchanged clusters (a merge of two clusters
    re-rolls the merged label — unavoidable for any label-keyed rule).

    Scale shape: the component join is id-keyed (the BSP label frame is
    (node, int64)); the split itself is one hash on the label — no
    extra shuffle beyond connected_components' supersteps. Returns
    (id_col, component, split).
    """
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
    )
    from knime_core_columnar_spark.operators.text import keyed_hash32

    comp = connected_components(pairs, "id_a", "id_b")
    labeled = (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce(F.col("label"), F.col(id_col)).alias("component"),
        )
    )
    bucket = keyed_hash32(F.lit(salt), F.col("component").cast("string")) % 1000
    return labeled.withColumn(
        "split",
        F.when(bucket < test_permille, "test")
        .when(bucket < test_permille + val_permille, "val")
        .otherwise("train"),
    )


def token_budget_plan(
    df: DataFrame,
    source_col: str,
    weight_expr: Column,
    budget: int,
    token_expr: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixture planning with EXACT water-filling: given a
    target share ``weight_expr`` (integer, e.g. per-mille) per source
    and a total token ``budget``, compute each source's token
    allocation and sampling rate. Undersupplied sources (fewer tokens
    than their proportional share) keep everything; their unused budget
    is redistributed across the rest — the water-filling allocation
    every mixture-weighted pretraining run needs BEFORE sampling. No
    source is ever allocated more than it has; floor divisions leave a
    shortfall of at most (#unsaturated − 1) tokens, so
    Σ alloc ∈ [budget − (n−1), budget] whenever supply allows (exactly
    budget when the fill level divides evenly).

    Closed form instead of iteration: sort sources by supply/weight
    ratio ascending; the saturated set is a PREFIX of that order, found
    with a running-AND window over the cross-multiplied integer
    condition  (B − prefix_t)·w_s ≥ t_s·(W − prefix_w).  The fill level
    μ = (B − Σ_sat t)/(W − Σ_sat w) is an exact rational; allocations
    are integer floor-divisions. No floats anywhere except the
    order-by key (IEEE division of exact ints — correctly rounded,
    identical cross-engine; ties broken by source name).

    Scale shape: ONE corpus scan → per-source partial-aggregated
    counts; everything after operates on the SOURCE-level table
    (≤ thousands of rows), so its global windows and one-row totals
    join are bounded-metadata operations — the same per-partition-
    totals window class SCALE.md already accepts. Overflow bound:
    (B − prefix_t)·w_s needs B·max_w < 2^63 — a 10^14-token budget at
    per-mille weights is 10^17, inside int64.

    Output: source, n_docs, n_tokens, weight, saturated,
    alloc_tokens, sample_rate (= round(alloc/tokens, 6); 0 when the
    source has no tokens or no weight).

    Column-reference contract: ``weight_expr`` is evaluated AFTER the
    per-source aggregation, where the grouping key has been renamed to
    ``source`` — so it must reference ``F.col("source")`` (not the
    original ``source_col`` name). ``token_expr`` is evaluated BEFORE
    the aggregation against the input rows; its default is a
    whitespace token count over ``text_col``.
    """
    from pyspark.sql import Window

    if token_expr is None:
        token_expr = F.size(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                 lambda x: x != "")
    )
    src = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_expr).cast("long").alias("n_tokens"),
        )
        # NULL weight (e.g. a weight_expr that fails to parse a source
        # name) coalesces to 0 → the excluded branch, so the source
        # still appears in the report instead of silently vanishing
        # from BOTH filter branches
        .withColumn(
            "weight", F.coalesce(weight_expr.cast("long"), F.lit(0))
        )
    )
    tot = src.agg(F.sum("weight").alias("__W"))
    order = [
        (F.col("n_tokens").cast("double") / F.col("weight")).asc(),
        F.col("source").asc(),
    ]
    w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        src.filter(F.col("weight") > 0)
        .crossJoin(F.broadcast(tot))
        .withColumn("__pt", F.sum("n_tokens").over(w_run) - F.col("n_tokens"))
        .withColumn("__pw", F.sum("weight").over(w_run) - F.col("weight"))
        .withColumn(
            "__ok",
            (
                (F.lit(int(budget)) - F.col("__pt")) * F.col("weight")
                >= F.col("n_tokens") * (F.col("__W") - F.col("__pw"))
            ).cast("int"),
        )
        .withColumn("saturated", F.min("__ok").over(w_run) == 1)
    )
    sat = ranked.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("n_tokens"))), F.lit(0)
        ).alias("__st"),
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("weight"))), F.lit(0)
        ).alias("__sw"),
    )
    out = ranked.crossJoin(F.broadcast(sat)).withColumn(
        "alloc_tokens",
        F.when(F.col("saturated"), F.col("n_tokens")).otherwise(
            F.expr(
                f"({int(budget)}L - __st) * weight div (__W - __sw)"
            )
        ),
    )
    zero_weight = (
        src.filter(~(F.col("weight") > 0))
        .select(
            "source", "n_docs", "n_tokens", "weight",
            F.lit(False).alias("saturated"),
            F.lit(0).cast("long").alias("alloc_tokens"),
        )
    )
    return (
        out.select("source", "n_docs", "n_tokens", "weight", "saturated",
                   "alloc_tokens")
        .unionByName(zero_weight)
        .withColumn(
            "sample_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("alloc_tokens").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def dsir_logratio(
    df: DataFrame,
    target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.,
    NeurIPS 2023, "Data Selection for Language Models via Importance
    Resampling" — public method): score every document by how much its
    hashed-bigram distribution looks like a TARGET slice of the corpus
    (``target`` is a boolean Column, e.g. ``F.col("lang") == "en"``)
    versus the raw corpus, then keep the documents whose importance
    log-ratio is positive. This is the standard cheap stand-in for a
    quality classifier: no trained model, just two n-gram count tables.

    Math: bigrams are hashed into ``n_buckets`` buckets; with raw
    per-bucket counts r_b (total R) and target counts t_b (total T),
    the per-bucket weight is the add-half smoothed log-likelihood ratio

        λ_b = ln((2·t_b+1)/(2·T+B)) − ln((2·r_b+1)/(2·R+B))

    and a document's score is Σ λ_b over its bigram occurrences.

    Determinism (the ``unigram_logprob`` discipline): λ_b is rounded to
    6 decimals and scaled to int64 BEFORE the per-doc sum, so the only
    cross-engine float op is ``ln`` of a ratio of exactly-representable
    integers — same accepted 1-ulp residual risk documented at
    ``text.unigram_logprob``. The ``selected`` flag compares the exact
    INTEGER sum to zero, so selection is bit-stable cross-engine.

    Scale shape (100 TB): bigram explode is scan-side row-local (the
    ``shingle_rows`` zip_with trick inlined so the target flag rides
    along); ONE hash aggregation produces BOTH count tables keyed by
    bucket (B ≪ corpus rows — partial aggregation collapses each map
    task to ≤B rows); totals derive from the B-row table itself; the
    λ table is B rows and broadcast into the per-doc join; the per-doc
    integer sum is the only full-width shuffle. No windows, no driver
    collect, no UDF.

    Output: ``id_col``, n_bigrams, dsir_logratio (sum of λ, 6-dec),
    selected (integer-exact ``Σλ6 > 0``). Documents with fewer than two
    tokens have no bigrams and hence no evidence either way; they come
    back with n_bigrams=0, score 0.0, selected=false (an empty sum is
    not > 0) instead of vanishing — ``explode_outer`` keeps a
    null-placeholder row per empty doc, so no extra join enters the
    plan (the λ join back is LEFT so the placeholder survives it).

    Sizing ``n_buckets``: the smoothing adds B/2 pseudo-counts to each
    side, so B must be well below the corpus bigram-occurrence count or
    the ratio (2t+1)/(2r+1) ≤ 1 (target ⊆ raw) dominates and everything
    scores slightly negative. The paper's 10k-bucket default assumes a
    web-scale corpus; scale B down for small corpora (tests use 64).
    """
    from knime_core_columnar_spark.operators.dedup import base_hash60

    from knime_core_columnar_spark.operators.text import let_col

    def _bigrams(toks: Column) -> Column:
        width = F.greatest(F.size(toks) - 1, F.lit(0))
        return F.zip_with(
            F.slice(toks, 1, width),
            F.slice(toks, 2, width),
            lambda x, y: F.concat_ws(" ", x, y),
        )

    # let-bound: the three references (size + two slices) would each
    # re-split the document per row under interpreted HOF evaluation
    bigrams = let_col(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                 lambda x: x != ""),
        _bigrams,
    )
    # explode_outer: a bigram-less doc keeps ONE null-placeholder row
    # (null __b — it joins nothing and counts nothing downstream) so
    # every input id reaches the per-doc aggregation
    rows = df.select(
        F.col(id_col),
        target.cast("int").alias("__tgt"),
        F.explode_outer(bigrams).alias("__s"),
    ).select(
        id_col,
        "__tgt",
        (base_hash60(F.col("__s")) % n_buckets).alias("__b"),
    )
    counts = (
        rows.filter(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("__rb"),
            F.sum("__tgt").alias("__tb"),
        )
    )
    totals = counts.agg(
        F.sum("__rb").alias("__R"), F.sum("__tb").alias("__T")
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            F.round(
                F.log(
                    (2 * F.col("__tb") + 1).cast("double")
                    / (2 * F.col("__T") + n_buckets).cast("double")
                )
                - F.log(
                    (2 * F.col("__rb") + 1).cast("double")
                    / (2 * F.col("__R") + n_buckets).cast("double")
                ),
                6,
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("__lp6"),
    )
    # LEFT join so the null-placeholder rows of bigram-less docs
    # survive to the aggregation with a null __lp6
    return (
        rows.join(F.broadcast(lam), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.count("__b").alias("n_bigrams"),
            F.coalesce(
                F.round(
                    F.sum("__lp6").cast("double") / F.lit(1_000_000.0), 6
                ),
                F.lit(0.0),
            ).alias("dsir_logratio"),
            F.coalesce(F.sum("__lp6") > 0, F.lit(False)).alias("selected"),
        )
    )


def temporal_split_embargo(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str | None = "user_id",
    train_frac: float = 0.7,
    embargo_end_frac: float = 0.8,
) -> DataFrame:
    """Time-ordered train/embargo/test split over an event stream — the
    leakage-safe complement to ``hash_split`` (random) and
    ``leakage_safe_split`` (near-dup clusters): models trained on the
    past are evaluated on the future, and an EMBARGO band between the
    fences is discarded so windowed/lagged features computed near the
    boundary cannot leak test-period information into training (the
    purged split of de Prado 2018).

    Fences are fractions of the observed TIME RANGE in epoch
    microseconds: ``t1 = min + floor(train_frac·span)``,
    ``t2 = min + floor(embargo_end_frac·span)`` — exact int64 + one
    identical double multiply per fence, so assignment is
    engine/partitioning-exact (unlike quantile fences, whose
    interpolation arithmetic is engine-specific). Both fences are
    direct parameters (never derived by float addition like
    ``train + embargo``, whose rounding could differ from another
    engine's literal — 0.7+0.1 is one ulp below 0.8 in IEEE).

    Scale shape: ONE min/max aggregate broadcast back over the scan;
    assignment is a codegen CASE; the report is one partial-aggregated
    groupBy(split) with a two-phase exact user count. Nothing
    driver-side.

    Returns (split, n_events, n_users, first_us, last_us) — one row per
    non-empty band; n_users omitted (constant -1) when ``user_col`` is
    None.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = df.agg(
        F.min(us).alias("__t0"), F.max(us).alias("__t1")
    )
    spand = F.col("__t1").cast("double") - F.col("__t0").cast("double")
    fenced = df.select(
        us.alias("__us"),
        *([F.col(user_col).alias("__u")] if user_col else []),
    ).join(F.broadcast(span)).select(
        "__us",
        *(["__u"] if user_col else []),
        (F.col("__t0")
         + F.floor(F.lit(train_frac) * spand).cast("long")).alias("__f1"),
        (F.col("__t0")
         + F.floor(F.lit(embargo_end_frac) * spand).cast("long")
         ).alias("__f2"),
    )
    split = (
        F.when(F.col("__us") < F.col("__f1"), F.lit("train"))
        .when(F.col("__us") < F.col("__f2"), F.lit("embargo"))
        .otherwise(F.lit("test"))
    )
    return fenced.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.count_distinct(F.col("__u")) if user_col else F.lit(-1).cast("long")
         ).alias("n_users"),
        F.min("__us").alias("first_us"),
        F.max("__us").alias("last_us"),
    )


def temperature_mixture_plan(
    df: DataFrame,
    source_col: str = "lang",
    budget: int = 1_000_000,
    alpha: float = 0.5,
    token_expr: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Temperature-smoothed source-mixture allocation — the α-sampling
    of multilingual pretraining (XLM, Conneau & Lample 2019 §3.1; mT5's
    α=0.3 exploration, Xue et al. 2021 §3.2): sampling probability
    p_i ∝ n_i^α flattens the head so low-resource sources are not
    drowned, then a token ``budget`` is split as alloc_i ≈ budget·p_i.

    Engine-exact by construction: α is restricted to {1.0, 0.5, 0.25}
    — identity, sqrt, sqrt∘sqrt — because IEEE 754 REQUIRES sqrt to be
    correctly rounded (bit-identical in any engine) while pow() is not;
    the smoothed weight is the integer floor(n^α · 1e6), and the split
    is the largest-remainder method in EXACT decimal arithmetic:
    alloc0_i = ⌊budget·w_i / W⌋ (decimal(38) product — budget·w needs
    headroom past int64 at trillion-token budgets), and the
    ``budget − Σ alloc0`` residual units go to the largest remainders
    (budget·w_i mod W), ties by source name. Σ alloc == budget exactly
    whenever W > 0.

    Scale shape: ONE corpus scan → per-source partial-aggregated token
    counts; everything downstream operates on the SOURCE-level table
    (≤ thousands of rows) — one broadcast one-row totals join and one
    bounded window for remainder ranking, the same source-table class
    as token_budget_plan.

    Returns (source, n_docs, n_tokens, smoothed_weight, alloc_tokens,
    share) — share is alloc/budget, one IEEE division of exact ints.
    """
    from pyspark.sql import Window

    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError(
            "alpha must be 1.0, 0.5 or 0.25 (identity / sqrt / sqrt∘sqrt "
            "— the IEEE-correctly-rounded chains; pow() is not "
            "cross-engine deterministic)"
        )
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if token_expr is None:
        token_expr = F.size(
            F.filter(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))),
                             r"\s+"),
                     lambda x: x != "")
        )
    src = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_expr).cast("long").alias("n_tokens"),
    )
    nd = F.col("n_tokens").cast("double")
    smooth = (
        nd if alpha == 1.0
        else F.sqrt(nd) if alpha == 0.5
        else F.sqrt(F.sqrt(nd))
    )
    src = src.withColumn(
        "smoothed_weight",
        F.floor(smooth * F.lit(1e6)).cast("long"),
    )
    tot = src.agg(
        F.sum("smoothed_weight").cast("decimal(38,0)").alias("__W")
    )
    prod = (
        F.lit(budget).cast("decimal(38,0)")
        * F.col("smoothed_weight").cast("decimal(38,0)")
    )
    with_alloc0 = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "__alloc0",
            F.when(
                F.col("__W") > 0,
                F.expr(
                    f"CAST((CAST({budget} AS DECIMAL(38,0)) * "
                    "CAST(smoothed_weight AS DECIMAL(38,0))) div __W "
                    "AS BIGINT)"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            # stays decimal(38,0): rem < W, and W = sum of floor(n^alpha*1e6)
            # weights can exceed int64 at trillion-token-per-source scale —
            # a long cast would wrap/NULL and corrupt the residual ranking
            "__rem",
            F.when(
                F.col("__W") > 0, prod % F.col("__W")
            ).otherwise(F.lit(0).cast("decimal(38,0)")),
        )
    )
    residual = with_alloc0.agg(
        (F.lit(budget) - F.sum("__alloc0")).cast("long").alias("__resid"),
        F.max(F.col("__W") > 0).alias("__has_w"),
    )
    w_rank = Window.orderBy(F.col("__rem").desc(), F.col("source"))
    return (
        with_alloc0.crossJoin(F.broadcast(residual))
        .withColumn("__rk", F.row_number().over(w_rank))
        .select(
            "source", "n_docs", "n_tokens", "smoothed_weight",
            (
                F.col("__alloc0")
                + F.when(
                    F.col("__has_w") & (F.col("__rk") <= F.col("__resid")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("alloc_tokens"),
        )
        .withColumn(
            "share",
            F.col("alloc_tokens").cast("double") / F.lit(float(budget)),
        )
    )

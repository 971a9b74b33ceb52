"""Streaming transformations — batch/stream-agnostic by construction.

Every function takes and returns a DataFrame; feed it a batch DataFrame
for testing/backfill or a readStream DataFrame for production. Watermarks
are applied only when the input is streaming (withWatermark on a batch
frame is a no-op in Spark, so the code path is literally shared).

Scale notes: windowed aggregations shuffle on (window, key) — state store
size is bounded by the watermark horizon; session windows merge in the
state store; applyInPandasWithState state is per-key and spills via
RocksDB state store on real clusters (spark.sql.streaming.stateStore.*).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from knime_core_columnar_spark.schema import read_parquet


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based stream: new files under ``path`` become micro-batches.
    The Spark rendering of the reference's read-while-writing store
    (OffHeapArrowPartialFileBatchReadable — a reader tailing a growing
    table)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def _maybe_watermark(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    if delay is not None and df.isStreaming:
        # event-time tracking requires TIMESTAMP (not NTZ); session tz is
        # UTC so the cast is value-preserving
        if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    keys: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts + sums. With a watermark, state for windows
    older than (max event time − delay) is dropped — bounded state at any
    stream length."""
    keys = keys or ["event_type"]
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"),
                *keys, "n", "total_value")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    keys: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding windows (each event lands in window/slide overlapping
    windows)."""
    keys = keys or ["event_type"]
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), window, slide).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), *keys, "n")
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    keys: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into one
    session per key (dynamic-length windows, merged in the state store)."""
    keys = keys or ["user_id"]
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            *keys,
            "n_events",
        )
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins; with a
    watermark the key-set state is pruned as time advances
    (dropDuplicatesWithinWatermark on streams)."""
    keys = keys or ["event_id"]
    if df.isStreaming and watermark is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


_RUNNING_TOTALS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])
_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def _running_totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel: per-user running (count, value-sum) across
    micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def stateful_running_totals(df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState —
    the Structured-Streaming analogue of the reference's per-thread
    stateful mapper factories (ColumnarVirtualTable.java:288-299): state
    lives per key in the state store, kernels see Arrow batches."""
    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_ASOF_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ref_value", T.DoubleType()),
])
_ASOF_STATE_SCHEMA = T.StructType([
    T.StructField("ref_value", T.DoubleType()),
])


def _asof_enrich_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key streaming as-of: 'ref' rows update the carried value,
    'event' rows emit enriched with the latest ref at-or-before them
    (processing order (ts, event_id) within the batch; the carried value
    persists across micro-batches in the state store)."""
    last_val = state.get[0] if state.exists else None
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    out = {"user_id": [], "event_id": [], "value": [], "ref_value": []}
    for r in pdf.itertuples():
        if r.kind == "ref":
            last_val = float(r.value)
        else:
            out["user_id"].append(key[0])
            out["event_id"].append(r.event_id)
            out["value"].append(float(r.value))
            out["ref_value"].append(last_val)
    state.update((last_val,))
    yield pd.DataFrame(out)


def streaming_asof_enrich(df: DataFrame) -> DataFrame:
    """Streaming as-of join as a custom stateful operator: one stream of
    interleaved reference updates (kind='ref') and events (kind='event')
    keyed by user_id; each event is enriched with the most recent
    reference value at or before it. The batch as-of join
    (operators.temporal.asof_join) materializes the same union+carry-
    forward plan; here the carry-forward lives in per-key state-store
    state, so reference history never re-scans — state size is O(keys),
    independent of stream length. Expects columns
    (user_id, event_id, ts, kind, value)."""
    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            _asof_enrich_fn,
            outputStructType=_ASOF_OUT_SCHEMA,
            stateStructType=_ASOF_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def hourly_counts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """The batch twin of tumbling_window_agg used by the catalog's
    events_hourly oracle query (date_trunc formulation)."""
    return df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz").alias("hr"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))


def corpus_quality_monitor(
    df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    window: str = "1 hour",
    keys: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Windowed corpus-quality monitoring — the ingestion-time health
    dashboard of a training-data pipeline: per (window, source) doc
    counts, token totals, mean quality score, and low-quality share,
    computed with the SAME text.quality_score expressions the batch
    gates use, so alert thresholds transfer 1:1 between the stream
    monitor and the offline filter.

    Batch/stream agnostic (works on a static frame for testing, on a
    readStream for production); quality aggregates use the scaled-int64
    trick so the streamed numbers equal the batch replay exactly.
    State is bounded by the watermark like every windowed agg here."""
    from knime_core_columnar_spark.operators.text import quality_score, token_count

    keys = keys or ["source"]
    d = _maybe_watermark(df, ts_col, watermark)
    q6 = F.round(quality_score(text_col) * 1_000_000, 0).cast("long")
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(text_col).cast("long")).alias("total_tokens"),
            F.sum(q6).alias("__q6_sum"),
            F.sum((q6 < 800_000).cast("int")).alias("n_low_quality"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            *keys,
            "n_docs",
            "total_tokens",
            F.round(
                F.col("__q6_sum").cast("double")
                / (F.col("n_docs") * F.lit(1_000_000.0)),
                6,
            ).alias("avg_quality"),
            "n_low_quality",
        )
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate detection (stream-static LSH)
# ---------------------------------------------------------------------------

def build_neardup_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The STATIC side of streaming near-dup: precompute, once per index
    refresh, (a) the corpus band index (corpus_id, __b, __key) and (b)
    per-doc shingle profiles (corpus_id, __hs, __size) for exact Jaccard
    verification. Built with the batch machinery (codegen shingles, one
    aggregation) — at scale this is a periodic batch job whose output
    both the offline dedup and the stream share. Persist both frames
    (or write them to parquet) so micro-batches don't recompute them."""
    from knime_core_columnar_spark.operators.dedup import (
        base_hash60,
        minhash_band_table,
        shingle_rows,
    )

    band_index = minhash_band_table(
        corpus, id_col, text_col, num_perm, bands, shingle_n
    ).withColumnRenamed(id_col, "corpus_id")
    profiles = (
        shingle_rows(corpus, id_col, text_col, shingle_n)
        .select(F.col(id_col), base_hash60(F.col("__s")).alias("__h"))
        .groupBy(id_col)
        .agg(F.collect_list("__h").alias("__hs"), F.count(F.lit(1)).alias("__size"))
        .select(F.col(id_col).alias("corpus_id"), "__hs", "__size")
    )
    return band_index, profiles


def streaming_neardup(
    stream: DataFrame,
    band_index: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidates for INCOMING documents against an existing
    corpus — the CDC-dedup pattern: every new doc is checked before
    admission, without rescanning the corpus.

    Streaming-legal by construction: the incoming doc's signature, band
    keys, and shingle-hash set are all per-row EXPRESSIONS (the
    interpreted HOF minhash form — fine at micro-batch row counts; the
    corpus side used the bulk codegen path when the index was built), so
    the plan is projection → stream-static equi-join on (band, key) →
    stream-static join on corpus_id → filter. No stream aggregation, no
    stream-stream join, append-mode clean, state size ZERO — corpus
    state lives in the static index, refreshed by the periodic batch
    job, not in the state store.

    Returns (stream_id, corpus_id, jaccard ≥ threshold). A pair sharing
    several bands emits once per shared band; dedupe downstream if exact
    multiplicity matters (kept out of here to avoid streaming-state
    dropDuplicates).

    Same hash family end to end, so results equal the batch
    minhash_lsh_candidates→ngram_jaccard_pairs pipeline restricted to
    (stream × corpus) pairs — pinned by the parity test."""
    from knime_core_columnar_spark.operators.dedup import (
        base_hash60,
        lsh_band_keys,
        minhash_signature,
    )
    from knime_core_columnar_spark.operators.text import word_shingles

    rows = num_perm // bands
    sh = word_shingles(F.col(text_col), shingle_n)
    enriched = stream.select(
        F.col(id_col).alias("stream_id"),
        F.posexplode(
            lsh_band_keys(
                minhash_signature(F.col(text_col), num_perm, shingle_n),
                bands,
                rows,
            )
        ).alias("__b", "__key"),
        F.transform(sh, base_hash60).alias("__shs"),
        F.size(sh).alias("__ssize"),
    )
    cand = enriched.join(band_index, ["__b", "__key"]).filter(
        F.col("stream_id") != F.col("corpus_id")
    )
    verified = cand.join(profiles, "corpus_id").withColumn(
        "__inter", F.size(F.array_intersect("__shs", "__hs"))
    )
    return verified.select(
        "stream_id",
        "corpus_id",
        (
            F.col("__inter").cast("double")
            / (F.col("__ssize") + F.col("__size") - F.col("__inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------

def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    left_watermark: str | None = "1 minute",
    right_watermark: str | None = "1 minute",
    right_prefix: str = "r_",
) -> DataFrame:
    """Correlate two event streams by key within a bounded time window —
    the funnel/attribution primitive (click→purchase, request→response):
    pairs (l, r) with equal ``on`` keys and
    ``l.ts <= r.ts <= l.ts + within``.

    Streaming-legal by Spark's stream-stream join rules: BOTH sides are
    watermarked and the join condition carries the two-sided time bound,
    so each side's state store holds only rows inside
    watermark + ``within`` — state is bounded by the time horizon, not
    the stream length. Batch/stream-agnostic like everything in this
    module: on static frames the same expression is a plain range join
    (the parity test's oracle).

    All right-side columns are renamed with ``right_prefix`` so the
    joined schema is collision-free regardless of shared names.

    Scale shape: both streams shuffle on the join key once (state store
    partitioning); at 100 TB/day the horizon, not the history, bounds
    memory, and skewed keys shard across state-store partitions like any
    keyed stateful op.
    """
    l = _maybe_watermark(left, left_ts, left_watermark)
    r = _maybe_watermark(right, right_ts, right_watermark)
    r = r.select([F.col(c).alias(f"{right_prefix}{c}") for c in r.columns])
    rk, rt = f"{right_prefix}{on}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(on) == F.col(rk))
        & (F.col(rt) >= F.col(left_ts))
        & (F.col(rt) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").drop(rk)


def windowed_token_counts(
    df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    window: str = "1 hour",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Windowed token-frequency stream — the ingestion-time twin of the
    batch vocabulary/heavy-hitter audits: per (window, token) exact
    counts over the incoming corpus. Batch/stream agnostic like
    ``corpus_quality_monitor``.

    State shape: one counter per (active window, token) — bounded by
    vocabulary × windows-within-watermark, the same envelope as any
    windowed agg here (token cardinality is vocabulary-bounded, not
    corpus-bounded). Counts are exact integers, so the stream replay
    equals the batch computation row-for-row.

    Returns (win_start, token, n).
    """
    d = _maybe_watermark(df, ts_col, watermark)
    toks = d.select(
        F.col(ts_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy(F.window(F.col(ts_col), window).alias("win"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "token", "n")
    )


def trending_tokens(counts: DataFrame, k: int = 10) -> DataFrame:
    """Top-k tokens per window from a ``windowed_token_counts`` frame —
    the ranking step, run batch-side (on the sink table or inside a
    foreachBatch) because streaming append mode cannot rank within a
    still-open window. Deterministic total order (n desc, token asc);
    WindowGroupLimit keeps per-partition k-row heaps.

    Returns (win_start, token, n, rank) with rank 1..k per window.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("token")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


_QUOTA_OUT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("admit_rank", T.LongType()),
])
_QUOTA_STATE_SCHEMA = T.StructType([T.StructField("admitted", T.LongType())])


def streaming_quota_admission(df: DataFrame, quota: int = 100) -> DataFrame:
    """Stateful per-key quota admission — the streaming twin of
    ``sampling.quota_sample``'s capping side: admit only the first
    ``quota`` events per key (event_type) at ingestion time, drop the
    rest at the door. The curation use: cap each source/domain during
    ingest so a firehose host cannot flood the corpus before batch
    rebalancing ever sees it.

    State per key is ONE integer (events admitted so far) —
    applyInPandasWithState with a bounded state row, nothing buffered.
    Events inside each Arrow batch are processed in (ts, event_id)
    order, so when the stream delivers in timestamp order (the replay/
    backfill case) the admitted set is exactly the batch-mode
    ``row_number() over (partition by key order by ts, event_id) <=
    quota`` — the oracle the parity test and the batch twin replay.

    Returns admitted events with their 1-based ``admit_rank``.
    """

    def _fn(key, pdfs, state):
        admitted = state.get[0] if state.exists else 0
        take = max(quota - admitted, 0)
        if take > 0:
            # One sort across the WHOLE micro-batch (Arrow chunks arrive
            # in arbitrary order): buffering is bounded by the group's
            # rows in this micro-batch — the same envelope as any
            # grouped kernel — and makes the admitted set identical to
            # the batch-mode row_number twin when input is replayed in
            # timestamp order.
            batch = pd.concat(list(pdfs), ignore_index=True)
            batch = batch.sort_values(["ts", "event_id"])
            head = batch.head(take).copy()
            head["admit_rank"] = range(admitted + 1, admitted + len(head) + 1)
            head["event_type"] = key[0]
            admitted += len(head)
            state.update((admitted,))
            if len(head):
                yield head[["event_id", "ts", "event_type", "user_id",
                            "value", "admit_rank"]]
        else:
            for _ in pdfs:  # drain; quota already exhausted
                pass
            state.update((admitted,))

    return (
        df.groupBy("event_type")
        .applyInPandasWithState(
            _fn,
            outputStructType=_QUOTA_OUT_SCHEMA,
            stateStructType=_QUOTA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_drift_monitor(
    df: DataFrame,
    ref: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 10,
    window: str = "1 hour",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Windowed distribution-drift monitor — the streaming twin of
    ``validate.numeric_drift_report``: each event-time window's values
    bin with the SAME fixed-edge ``drift_bin`` expression the batch
    report uses, per-window bin shares are compared against a static
    reference distribution ``ref`` (bin, ref_pct), and every (window,
    bin) row reports n, pct, ref_pct, pct_diff — including ZERO-count
    bins, because a mode disappearing from the stream is exactly the
    drift an alert must see.

    Streaming-safe by construction: ONE stateful windowed aggregation
    computes the whole bin vector as ``n_bins+2`` conditional sums
    (bins are plan-time constants), so the per-window normalization is
    in-row arithmetic, not a second stateful aggregation (chained
    streaming aggs are the classic unsupported shape); the reference
    join happens AFTER the aggregation, stream-static and stateless.
    State per window is one row of ``n_bins+2`` longs, bounded by the
    watermark. Batch/stream agnostic — a static frame replays the
    identical plan for the oracle.
    """
    from knime_core_columnar_spark.operators.validate import drift_bin

    d = _maybe_watermark(df, ts_col, watermark)
    v = F.col(value_col).cast("double")
    b = drift_bin(v, lo, hi, n_bins)
    bins = list(range(-1, n_bins + 1))
    agg = (
        d.filter(v.isNotNull())
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            *[
                F.sum((b == i).cast("long")).alias(f"__c_{i + 1}")
                for i in bins
            ]
        )
    )
    total = None
    for i in bins:
        c = F.col(f"__c_{i + 1}")
        total = c if total is None else total + c
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("bin"),
                F.col(f"__c_{i + 1}").alias("n"),
            )
            for i in bins
        ]
    )
    exploded = agg.select(
        F.col("win.start").alias("win_start"),
        total.alias("__t"),
        F.explode(pairs).alias("__p"),
    ).select(
        "win_start",
        F.col("__p.bin").alias("bin"),
        F.col("__p.n").alias("n"),
        # the UNROUNDED quotient rides along: pct_diff must subtract
        # from the raw share, not the display-rounded one — double
        # rounding diverges from any round(raw - ref) replay on exact
        # ties (e.g. a 1/128 share whose 7th decimal is a 5)
        (F.col("__p.n") / F.col("__t")).alias("__raw"),
    )
    r = ref.select(F.col("bin").cast("long").alias("bin"), "ref_pct")
    return (
        exploded.join(F.broadcast(r), "bin", "left")
        .select(
            "win_start",
            "bin",
            "n",
            F.round(F.col("__raw"), 6).alias("pct"),
            F.coalesce(F.col("ref_pct"), F.lit(0.0)).alias("ref_pct"),
            F.round(
                F.col("__raw") - F.coalesce(F.col("ref_pct"), F.lit(0.0)), 6
            ).alias("pct_diff"),
        )
    )


def streaming_hll_store_ingest(
    store_dir: str,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
):
    """foreachBatch maintainer for a persisted ``hll_sketch_table``
    STORE — the streaming twin of the daily-ingest story in
    ``sketch.hll_sketch_merge_tables``: every micro-batch is sketched
    at group grain and merged into the parquet store, so global
    distinct counts stay queryable (``hll_rollup`` over the store)
    without ever rescanning history. Returns the callback for
    ``df.writeStream.foreachBatch(...)``; it also accepts a batch
    DataFrame directly (``callback(batch_df, batch_id)``) for
    backfill/testing — the code path is literally shared.

    Scale shape: the merge unions the STORE (group-cardinality-sized,
    never corpus-sized) with the micro-batch's sketch table — per-batch
    work is one partial-aggregated sketch pass over the batch plus a
    store-sized merge. The swap is write-new-then-rename (the
    container-writer shared-filesystem contract: local mode or a
    shared mount). Registers max-merge, so replaying the same data in
    different batch splits yields estimates within the HLL bound of
    the full build — the invariant the parity test pins.
    """
    import glob
    import os
    import shutil

    from knime_core_columnar_spark.operators.sketch import (
        hll_sketch_merge_tables,
        hll_sketch_table,
    )

    def _recover() -> None:
        # crash recovery: a crash between the two swap renames leaves
        # the store absent but its content intact under `.old<batch>`;
        # restore the newest one instead of silently restarting the
        # store from a delta-only table. Leftover `.old` dirs from a
        # crash AFTER the swap are stale copies — removed below before
        # the rename so a foreachBatch retry never hits ENOTEMPTY.
        if os.path.isdir(store_dir):
            return
        olds = sorted(
            (p for p in glob.glob(f"{store_dir}.old*") if os.path.isdir(p)),
            key=os.path.getmtime,
        )
        if olds:
            os.rename(olds[-1], store_dir)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover()
        delta = hll_sketch_table(batch_df, group_cols, value_col, lg_k)
        if os.path.isdir(store_dir):
            store = read_parquet(spark, store_dir)
            merged = hll_sketch_merge_tables(store, delta, group_cols)
        else:
            merged = delta
        # write the new store BEFORE touching the old one (merged still
        # reads it lazily), then swap directories
        new = f"{store_dir}.new{batch_id}"
        merged.write.mode("overwrite").parquet(new)
        if os.path.isdir(store_dir):
            old = f"{store_dir}.old{batch_id}"
            if os.path.isdir(old):  # crashed retry of this batch
                shutil.rmtree(old)
            os.rename(store_dir, old)
            os.rename(new, store_dir)
            shutil.rmtree(old)
        else:
            os.rename(new, store_dir)

    return _ingest


def streaming_curation_admit(
    index_dir: str,
    admitted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **gate_params,
):
    """foreachBatch admitter for a STREAMING curation pipeline — the
    micro-batch twin of the catalog's ``curation_funnel_delta``: each
    batch runs the shared gate chain
    (``text.curation_gate_fingerprints`` — Gopher battery → C4 line
    cleaning → language gate, identical parameters), elects one winner
    per fingerprint WITHIN the batch (min-id aggregate, never a
    window), anti-joins the winners against the persisted
    survivor-fingerprint INDEX, appends the newly admitted (id, fp)
    rows to ``admitted_dir`` (one overwrite-mode partition per
    batch_id — foreachBatch retries are idempotent), and merges the new
    fingerprints into the index with the same write-new-then-swap
    protocol as ``streaming_hll_store_ingest`` (crash between renames
    recovers from ``.old``).

    Returns the callback for ``df.writeStream.foreachBatch(...)``; it
    also accepts a batch DataFrame directly (``callback(batch_df,
    batch_id)``) for backfill/testing — the code path is shared.
    Batch ids key the admitted partitions and every streaming query
    numbers its batches from 0, so give each query (and any manual
    backfill) its OWN ``admitted_dir``. The read-merge-swap index
    protocol has NO cross-process locking — exactly ONE writer (one
    streaming query) may maintain a given ``index_dir``; concurrent
    writers would lose each other's merges, and readers can observe
    the directory mid-swap.

    Retry semantics (foreachBatch may replay a batch after a crash at
    ANY point past its first side effect): the admitted partition is
    published atomically (write to a temp dir, rename), and a retry
    that finds it published REUSES it — re-deriving the anti-join on a
    retry would find the fps already merged into the index and
    overwrite the partition with an empty result, silently losing the
    admitted rows. The index merge adds only the partition fps not
    already present, so replaying after a completed swap is a no-op.

    Invariant the parity test pins: the SET of admitted fingerprints
    equals the batch pipeline's gated-distinct-fp set minus the initial
    index, for ANY batch split (which winner id is admitted for a
    fingerprint that spans batches is first-batch-wins — the streaming
    semantics — and min-id within a batch).

    Scale shape: per-batch cost is O(batch) gate expressions + ONE
    anti-join of 16-byte fingerprints against the index — history is
    never re-read, never re-gated; the index grows by exactly the
    admitted rows."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.text import (
        curation_gate_fingerprints,
    )

    def _recover() -> None:
        if os.path.isdir(index_dir):
            return
        olds = sorted(
            (p for p in glob.glob(f"{index_dir}.old*") if os.path.isdir(p)),
            key=os.path.getmtime,
        )
        if olds:
            os.rename(olds[-1], index_dir)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover()
        batch_out = os.path.join(admitted_dir, f"batch_id={batch_id}")
        if not os.path.isdir(batch_out):
            gated = curation_gate_fingerprints(
                batch_df, id_col, text_col, **gate_params
            )
            winners = gated.groupBy("__fp").agg(F.min(id_col).alias(id_col))
            if os.path.isdir(index_dir):
                new = winners.join(
                    read_parquet(spark, index_dir), "__fp", "left_anti"
                )
            else:
                new = winners
            # materialize the admitted rows FIRST (they are read twice:
            # the sink and the index merge) and PUBLISH atomically —
            # a half-written partition must never look complete to a
            # retry (see the docstring's retry semantics)
            tmp_out = f"{batch_out}.tmp{os.getpid()}"
            new.select(id_col, "__fp").write.mode("overwrite").parquet(tmp_out)
            os.makedirs(admitted_dir, exist_ok=True)
            os.rename(tmp_out, batch_out)
        # a published partition is authoritative: a retry reuses it
        # instead of re-deriving (the anti-join would come back empty
        # once the fps are merged, and overwriting would lose the rows)
        admitted = read_parquet(spark, batch_out)
        if os.path.isdir(index_dir):
            index = read_parquet(spark, index_dir)
            # add only fps not already merged — replay-safe
            to_add = admitted.select("__fp").join(index, "__fp", "left_anti")
            merged = index.unionByName(to_add)
        else:
            merged = admitted.select("__fp")
        new_dir = f"{index_dir}.new{batch_id}"
        merged.write.mode("overwrite").parquet(new_dir)
        if os.path.isdir(index_dir):
            old = f"{index_dir}.old{batch_id}"
            if os.path.isdir(old):  # crashed retry of this batch
                shutil.rmtree(old)
            os.rename(index_dir, old)
            os.rename(new_dir, index_dir)
            shutil.rmtree(old)
        else:
            os.rename(new_dir, index_dir)

    return _admit

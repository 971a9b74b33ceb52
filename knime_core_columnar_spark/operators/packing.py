"""Token-budget sequence packing for LLM training data.

Training pipelines pack variable-length documents into fixed-capacity
context windows (e.g. 2k/8k tokens) so no GPU step wastes padding. The
distributed shape here: rows are hash-partitioned into ``n_streams``
independent packing streams (``sampling.hash_bucket`` — deterministic,
partitioning-independent), and each stream runs the greedy sequential
first-fit in key order. Packing is inherently a sequential recurrence
(the pack a document lands in depends on every prior document in its
stream), so the per-stream kernel is an Arrow-batched
``applyInPandas`` — Python touches only (id, stream, n_tokens)
triples, never the text, and each group is ~rows/n_streams so executor
memory is bounded by choosing ``n_streams`` ∝ corpus size.

Semantics (mirrored exactly by the recursive-CTE DuckDB oracle in
catalog/text.py): within a stream, docs are taken in ascending key order; a
doc joins the current pack if the pack's token total stays ≤ capacity,
else it starts the next pack. A single doc larger than the capacity
gets a pack of its own (truncation is the trainer's call, not the
packer's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knime_core_columnar_spark.operators.sampling import hash_bucket

__all__ = ["pack_sequences", "assemble_packed_sequences"]


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    n_streams: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Assign each row to a ``(stream, pack_id)`` context window.

    Returns ``(id_col, stream, pack_id, token_col)`` — one row per
    input row; downstream writers group by (stream, pack_id) to emit
    packed sequences.
    """
    base = df.select(
        F.col(id_col),
        (hash_bucket([id_col], salt) % n_streams).alias("stream"),
        F.col(token_col).cast("long").alias(token_col),
    )
    schema = T.StructType(
        [
            base.schema[id_col],
            T.StructField("stream", T.LongType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField(token_col, T.LongType()),
        ]
    )
    cap = int(capacity)

    def _pack(pdf):
        import numpy as np

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        toks = pdf[token_col].to_numpy()
        packs = np.empty(len(toks), dtype=np.int64)
        acc = 0
        pack = -1
        for i, t in enumerate(toks):
            if pack < 0 or acc + t > cap:
                pack += 1
                acc = int(t)
            else:
                acc += int(t)
            packs[i] = pack
        pdf = pdf.assign(pack_id=packs)
        return pdf[[id_col, "stream", "pack_id", token_col]]

    return base.groupBy("stream").applyInPandas(_pack, schema=schema)


def length_bucketed_batches(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 32,
    salt: str = "lenbatch",
):
    """Length-bucketed batch planning — the padding-efficiency
    complement to ``pack_sequences``: instead of concatenating docs into
    fixed token windows, group similar-length docs so dynamic padding
    to the batch max wastes little (the dominant batching strategy for
    variable-length SFT/eval sets).

    Buckets are power-of-two length classes computed in INTEGER
    arithmetic — ``bucket = len(bin(n-1))``, i.e. docs with
    2^(bucket-1) < n_tokens ≤ 2^bucket share a bucket — deliberately
    not float log2, whose libm rounding differs across engines (the
    bit-length formulation is exact everywhere ``bin()`` exists).
    Within a bucket, docs are ordered by a deterministic md5 hash (ties
    by id) and cut into ``batch_size``-row batches; each batch pads to
    its own max length.

    Scale shape: one token-count projection, one per-bucket window
    (buckets are corpus-spanning but the window partitions by bucket —
    no global window), one (bucket, batch) aggregation. Returns one row
    per batch: (bucket, batch_id, n_docs, total_tokens, padded_tokens)
    where padded_tokens = batch max × n_docs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.size(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda x: x != "")
        ).cast("long").alias("__n"),
    ).filter(F.col("__n") > 0)
    bucketed = toks.withColumn(
        "bucket",
        F.when(F.col("__n") <= 1, F.lit(0)).otherwise(
            F.length(F.bin(F.col("__n") - 1)).cast("long")
        ),
    )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)))
    w = Window.partitionBy("bucket").orderBy(h, F.col(id_col))
    batched = bucketed.withColumn(
        "batch_id", ((F.row_number().over(w) - F.lit(1)) / F.lit(batch_size))
        .cast("long"),
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n").cast("long").alias("total_tokens"),
        (F.max("__n") * F.count(F.lit(1))).cast("long").alias("padded_tokens"),
    )


def assemble_packed_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    n_streams: int = 64,
    separator: str = "<|doc|>",
    salt: str = "pack",
) -> DataFrame:
    """The WRITER step after :func:`pack_sequences`: materialize each
    (stream, pack_id) window as an actual packed sequence — documents
    whitespace-normalized and joined in packing order with
    ``separator`` between them — plus the per-document boundary map a
    trainer needs for attention masking / loss spans.

    Boundaries are in DOCUMENT-token space (exclusive prefix sums of
    per-doc token counts within the pack, separators not counted) so
    they are independent of the separator choice; ``pack_md5`` is the
    md5 of the packed text, certifying the assembly byte-for-byte
    without shipping megabyte rows to a comparison.

    Returns one row per packed DOCUMENT: (stream, pack_id, id, start_tok,
    end_tok, pack_md5).

    Scale shape: one pack-assignment pass (:func:`pack_sequences` —
    only (id, stream, tokens) triples through Python), one id-keyed
    join to bring each document's normalized text to its assignment,
    one (stream, pack_id) aggregation whose groups are capacity-bounded
    (a pack holds at most ``capacity`` tokens, so collect_list is
    bounded by construction — the one place collect_list is safe at
    100 TB), then per-pack array algebra: boundary starts via
    aggregate-over-slice (O(m²) in docs-per-pack, m ≤ capacity) and one
    explode back to document rows. Text crosses exactly one exchange —
    the pack grouping — already cut to pack-sized pieces.
    """
    toks_arr = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    normed = df.select(
        F.col(id_col),
        F.array_join(toks_arr, " ").alias("__norm"),
        F.size(toks_arr).cast("long").alias("__nt"),
    )
    packed = pack_sequences(
        normed.select(id_col, "__nt"), id_col, "__nt",
        capacity=capacity, n_streams=n_streams, salt=salt,
    )
    rows = packed.drop("__nt").join(normed, id_col)
    g = rows.groupBy("stream", "pack_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col), F.col("__norm"),
                                    F.col("__nt")))
        ).alias("__arr")
    )
    sep = f" {separator} "
    pack_md5 = F.md5(
        F.array_join(F.transform("__arr", lambda x: x["__norm"]), sep)
    )
    def _bound(x, i):
        start = F.aggregate(
            F.slice("__arr", F.lit(1), i),
            F.lit(0).cast("long"),
            lambda acc, y: acc + y["__nt"],
        )
        return F.struct(
            x[id_col].alias(id_col),
            start.alias("start_tok"),
            (start + x["__nt"]).alias("end_tok"),
        )

    bounds = F.transform("__arr", _bound)
    return (
        g.select(
            "stream", "pack_id", pack_md5.alias("pack_md5"),
            F.explode(bounds).alias("__b"),
        )
        .select(
            "stream", "pack_id",
            F.col(f"__b.{id_col}").alias(id_col),
            F.col("__b.start_tok").alias("start_tok"),
            F.col("__b.end_tok").alias("end_tok"),
            "pack_md5",
        )
    )

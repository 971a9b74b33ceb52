"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata structs — the Spark rendering of the reference's
VarBinary-with-pluggable-serializer pattern
(VarBinaryData.java:69-123: setBytes/setObject(ObjectSerializer)/
getObject(ObjectDeserializer)).

The engine ships no image, video or audio codec library
(PIL/ffmpeg/librosa), so the decode kernels HERE are stubs: each one runs
a deterministic fake decode derived from the bytes (the ``_fake_decode_*``
functions), so the Spark-side plumbing — schema, Arrow batch shape,
mapInPandas partitioning — is real and fully tested. Swapping in a real
decoder changes only that fake function. PNG is the exception:
:mod:`.png` implements the actual codec (stdlib zlib + the spec's five
scanline filters) with real pixel access — use ``png.png_pixel_stats``
for PNG payloads; this module's stubs remain for formats that need a
codec library (JPEG etc.).

Everything runs through mapInPandas (Arrow-batched, partition-parallel,
never a driver collect)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata struct carried next to every payload column (the typed
#: companion of the opaque binary — FIXTURES.md F8 payload_meta pattern).
PAYLOAD_META_TYPE = T.StructType([
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])

IMAGE_FEATURES_TYPE = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_byte", T.DoubleType()),
    T.StructField("n_bytes", T.LongType()),
])


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", mime: str = "application/octet-stream"
) -> DataFrame:
    """Derive a binary payload column from a string column (test fixture
    for binary-column plumbing: UTF-8 bytes + metadata struct)."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit(mime).alias("mime"),
        F.octet_length(payload).alias("width"),
        F.lit(1).alias("height"),
    )
    return df.withColumn("payload", payload).withColumn("payload_meta", meta)


def payload_stats(payload: Column) -> dict[str, Column]:
    """JVM-side stats over binary payloads (no decode needed):
    size, content hash, magic-byte prefix."""
    return {
        "n_bytes": F.octet_length(payload).cast("long"),
        "content_sha256": F.sha2(payload, 256),
        "magic_hex": F.hex(F.substring(payload, 1, 4)),
    }


def _fake_decode_image(data: bytes) -> tuple[int, int, float]:
    """Deterministic fake decode: dimensions and mean derived from the
    raw bytes. REPLACE with PIL.Image.open(io.BytesIO(data)) when an
    imaging lib is available."""
    n = len(data)
    width = (n % 64) + 1
    height = (n // 64) % 64 + 1
    mean = (sum(data[:256]) / min(n, 256)) if n else 0.0
    return width, height, float(mean)


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Image decode + feature extraction over Arrow batches.

    mapInPandas keeps batches columnar end-to-end (Arrow transfer, no
    per-row Python). Partition-parallel: N executors × batches, no
    driver involvement. ``passthrough_cols`` ride through the kernel
    unchanged (same row order), so precomputed JVM-side stats never
    need a corpus self-join back onto the decode output."""
    passthrough = list(passthrough_cols or [])
    clash = set(passthrough) & set(IMAGE_FEATURES_TYPE.fieldNames())
    if clash:
        raise ValueError(
            f"decode_image_features: passthrough_cols {sorted(clash)} "
            "collide with computed feature columns "
            f"{IMAGE_FEATURES_TYPE.fieldNames()} — rename them first"
        )
    schema = T.StructType(
        list(IMAGE_FEATURES_TYPE.fields)
        + [df.schema[c] for c in passthrough]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "mean_byte": [], "n_bytes": []}
            for i, data in zip(pdf[id_col], pdf[payload_col]):
                if data is None:
                    # NULL payload → NULL features, matching the
                    # JVM-side stats (octet_length(NULL) IS NULL) a
                    # real decoder could not invent dimensions either
                    w = h = m = nb = None
                else:
                    raw = bytes(data)
                    w, h, m = _fake_decode_image(raw)
                    nb = len(raw)
                out["doc_id"].append(i)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_byte"].append(m)
                out["n_bytes"].append(nb)
            res = pd.DataFrame(out)
            if res["width"].isna().any():
                res["width"] = res["width"].astype("Int32")
                res["height"] = res["height"].astype("Int32")
                res["n_bytes"] = res["n_bytes"].astype("Int64")
            for c in passthrough:
                res[c] = pdf[c].to_numpy()
            yield res

    return df.select(id_col, payload_col, *passthrough).mapInPandas(
        decode, schema
    )


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n_bytes: int = 1024,
) -> DataFrame:
    """Video-frame-sampling stand-in: emits one row per sampled 'frame'
    (byte offset). A real implementation decodes with ffmpeg per batch;
    the plumbing (1→N row expansion through mapInPandas) is identical.

    The per-frame checksum is md5 over the chunk's UPPERCASE-HEX
    encoding — byte-deterministic, and expressible in engines whose SQL
    cannot slice blobs (DuckDB: substring(hex(payload), off*2+1, n*2)),
    which keeps this operator inside the value-exact oracle gate."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("byte_offset", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ])

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import binascii
        import hashlib

        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "byte_offset": [], "frame_md5": []}
            for i, data in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(data) if data is not None else b""
                for fi, off in enumerate(range(0, max(len(raw), 1), every_n_bytes)):
                    chunk = raw[off : off + every_n_bytes]
                    chunk_hex = binascii.hexlify(chunk).decode().upper()
                    rows["doc_id"].append(i)
                    rows["frame_idx"].append(fi)
                    rows["byte_offset"].append(off)
                    rows["frame_md5"].append(hashlib.md5(chunk_hex.encode()).hexdigest())
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(sample, schema)


AUDIO_FEATURES_TYPE = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("mean_amp", T.DoubleType()),
    T.StructField("peak_amp", T.IntegerType()),
])


def _fake_decode_audio(data: bytes, sample_rate: int = 16_000):
    """Deterministic fake audio decode: the payload is treated as int16
    PCM (n_bytes // 2 samples @ ``sample_rate``); amplitude stats come
    from the first 256 raw bytes. REPLACE with soundfile/librosa when an
    audio library is available."""
    n = len(data)
    n_samples = n // 2
    # NO Python round() here: Python rounds half-to-even while the SQL
    # engines round half-away — final rounding happens in Catalyst
    duration = n_samples / float(sample_rate)
    head = data[:256]
    # empty payload → NULL amplitude stats, matching SQL semantics
    # (SUM/MAX over zero rows is NULL, and NULL/0 is NULL — not 0)
    mean_amp = (sum(head) / len(head)) if head else None
    peak_amp = max(head) if head else None
    return n_samples, duration, mean_amp, peak_amp


def decode_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    sample_rate: int = 16_000,
) -> DataFrame:
    """Audio decode + waveform stats over Arrow batches — the audio tier
    of the multimodal family, same mapInPandas shape as
    ``decode_image_features`` (columnar transfer, partition-parallel,
    no driver involvement). A real decoder (soundfile/librosa/ffmpeg)
    replaces ``_fake_decode_audio``; the deterministic fake keeps the
    plumbing value-checkable end-to-end."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "duration_s": [],
                   "mean_amp": [], "peak_amp": []}
            for i, data in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(data) if data is not None else b""
                ns, dur, mean_amp, peak = _fake_decode_audio(raw, sample_rate)
                out["doc_id"].append(i)
                out["n_samples"].append(ns)
                out["duration_s"].append(dur)
                out["mean_amp"].append(mean_amp)
                out["peak_amp"].append(peak)
            yield pd.DataFrame(out)

    raw = df.select(id_col, payload_col).mapInPandas(decode, AUDIO_FEATURES_TYPE)
    return raw.select(
        id_col,
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp",
    )


def ahash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_slices: int = 64,
    band_bits: int = 8,
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprints over binary
    payloads: the payload is cut into ``n_slices`` positional byte
    slices (boundaries ``floor(j·L/n)`` — an exact partition of
    [0, L)), and bit j is set iff slice j's mean byte is >= the overall
    mean byte. This is the real aHash recipe applied to raw bytes; a
    real image decoder would replace the byte array with 8x8 resized
    grayscale lumas and leave everything downstream unchanged.

    Exactness: the mean comparison is integer cross-multiplied
    (``slice_sum·L >= total·slice_len``) — no float anywhere, so
    fingerprints are bit-identical on any engine at any parallelism.
    All per-row work is JVM-side array expressions (no Python, no
    shuffle), with every intermediate (hex string, byte array, total,
    bit vector) bound ONCE via the let_col idiom — HOF lambdas
    re-evaluate captured expressions per element and Catalyst's
    CollapseProject inlines aliased projections, so naive chaining
    re-decodes the payload thousands of times per row (measured: the
    un-bound version was >100x slower).

    Returns (``id_col``, bits array<int> of ``n_slices`` 0/1 flags,
    bands array<int> of ``n_slices/band_bits`` band keys). Payloads
    shorter than ``n_slices`` bytes are dropped (too small to
    fingerprint).
    """
    if n_slices % band_bits != 0:
        raise ValueError("band_bits must divide n_slices")
    n_bands = n_slices // band_bits
    n = n_slices
    # one expression, let-bound at every stage: hx (hex string) -> bs
    # (byte array) -> tot (byte sum) -> bits -> struct(bits, bands)
    sig_expr = f"""
      element_at(transform(array(hex(__p)), hx ->
        element_at(transform(array(
            transform(sequence(0, CAST(__L AS INT) - 1),
              p -> CAST(conv(substring(hx, 2*p + 1, 2), 16, 10) AS BIGINT))
          ), bs ->
          element_at(transform(array(
              aggregate(bs, CAST(0 AS BIGINT), (acc, x) -> acc + x)
            ), tot ->
            element_at(transform(array(
                transform(sequence(0, {n - 1}), j -> CASE WHEN
                  aggregate(
                    slice(bs,
                          CAST((j * __L) div {n} AS INT) + 1,
                          CAST(((j + 1) * __L) div {n}
                               - (j * __L) div {n} AS INT)),
                    CAST(0 AS BIGINT), (acc, x) -> acc + x) * __L
                  >= tot * (((j + 1) * __L) div {n}
                            - (j * __L) div {n})
                THEN 1 ELSE 0 END)
              ), bits ->
              struct(bits,
                     transform(sequence(0, {n_bands - 1}), b ->
                       aggregate(sequence(0, {band_bits - 1}), 0,
                         (acc, t) -> acc + bits[b * {band_bits} + t]
                                           * shiftleft(1, t))) AS bands)
            ), 1)
          ), 1)
        ), 1)
      ), 1)
    """
    return (
        df.select(F.col(id_col).alias(id_col), F.col(payload_col).alias("__p"))
        .filter(F.col("__p").isNotNull() & (F.octet_length("__p") >= n))
        .withColumn("__L", F.octet_length("__p").cast("long"))
        .withColumn("__sig", F.expr(sig_expr))
        .select(id_col, F.col("__sig.bits").alias("bits"),
                F.col("__sig.bands").alias("bands"))
    )


#: corpus size up to which ``phash_near_dup_pairs`` runs its audit tier
PHASH_AUDIT_MAX_ROWS = 100_000


def _phash_auto_band_bits(
    corpus_count: int,
    n_slices: int = 64,
    max_hamming: int = 6,
) -> int:
    """Tier selection for ``phash_near_dup_pairs`` (mirrors
    ``embedding_near_dup_pairs``' auto-LSH): pick band_bits from the
    corpus size, subject to the pigeonhole constraint
    ``n_slices/band_bits > max_hamming``.

    ≤ ``PHASH_AUDIT_MAX_ROWS`` rows → the NARROWEST valid bands (max recall
    margin; bucket density is harmless at audit scale); beyond that →
    the WIDEST valid bands (largest band-key space, so uniform buckets
    stay small at billions of assets)."""
    valid = [
        bb for bb in (16, 8, 4)
        if n_slices % bb == 0 and n_slices // bb > max_hamming
    ]
    if not valid:
        raise ValueError(
            f"no band width in (16, 8, 4) satisfies the pigeonhole "
            f"guarantee n_slices/band_bits > max_hamming for "
            f"n_slices={n_slices}, max_hamming={max_hamming} — lower "
            "max_hamming or pass band_bits explicitly"
        )
    return valid[-1] if corpus_count <= PHASH_AUDIT_MAX_ROWS else valid[0]


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_slices: int = 64,
    band_bits: int | None = None,
    max_bucket: int | None = 1_000,
    corpus_count: int | None = None,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over binary payloads — the
    image/asset dedup tier of the multimodal family (re-encoded,
    resized, or lightly edited copies of the same asset land within a
    few aHash bits of each other; see ``ahash_signatures`` for the
    fingerprint and the real-decoder plug point).

    Zero false negatives by pigeonhole: two fingerprints within
    ``max_hamming < n_slices/band_bits`` bits MUST agree on at least
    one band, and candidates are exactly the band-key collisions —
    never an all-pairs product.

    TWO TIERS — ``band_bits=None`` (the default) auto-selects from the
    corpus size via ``_phash_auto_band_bits`` (the
    embedding_near_dup_pairs auto-LSH precedent; pass ``corpus_count``
    when the row count is already known so selection costs no scan —
    with ``band_bits`` explicit and no ``corpus_count``, NO count job
    runs and the join hint defaults to the scale-safe merge):
    candidate density is ~ n² · n_bands / 2^band_bits, so
    - AUDIT tier, narrow bands (e.g. ``band_bits=4``: 16 bands,
      guarantee ≤ 15 bits): only 16·16 = 256 buckets exist —
      QUADRATIC past ~10⁵ assets (measured: the x100 rehearsal
      replica, 500k docs → ~10¹¹ candidate pairs — killed, see
      SCALE.md). Auto-chosen only ≤ ``PHASH_AUDIT_MAX_ROWS``.
    - SCALE tier, wide bands (e.g. ``band_bits=16``: 4 bands,
      guarantee ≤ 3 bits): 4·65536 buckets — at 10⁹ assets a uniform
      bucket holds ~6·10⁴ rows. Auto-chosen past ``PHASH_AUDIT_MAX_ROWS``,
      subject to the pigeonhole constraint (max_hamming=6 needs > 6
      bands, so the widest valid band is 8 bits there).
    ``max_bucket`` defaults FINITE (10³): overfull buckets are skipped
    entirely, trading recall on degenerate/boilerplate hash regions for
    a HARD cost ceiling — exactly containment_pairs' max_df contract.
    The ceiling matters because the key space is finite: at band_bits=8
    only n_bands·256 buckets exist, so uncapped candidates grow as
    n²/2^band_bits no matter how uniform the corpus; with the cap the
    worst case is n_bands·256·max_bucket²/2 ≈ 10⁹ candidate pairs —
    bounded at ANY corpus size (measured at the x100 rehearsal replica,
    500k docs: uncapped 6.9e9 candidates, capped 1.9e8). Past ~2·10⁶
    assets at the 8-bit tier most buckets exceed any useful cap — lower
    ``max_hamming`` to ≤ 3 so the auto-tier can take 16-bit bands
    (65536 keys/band), the genuinely scalable regime. Pass
    ``max_bucket=None`` to opt into uncapped exactness on corpora you
    know are small and degenerate-free.

    Scale shape: signatures are one codegen scan; candidates come from
    ONE (band_index, band_key) equi-join of the posexploded band table
    (hot buckets capped first — one count agg over that table); the
    Hamming verify joins the bounded candidate set back to the bit
    vectors. All integer math — engine/partitioning-exact.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ max_hamming.
    """
    if band_bits is None:
        if corpus_count is None:
            # one count: feeds BOTH the band-width tier and the
            # join-strategy decision below. Callers with the row count
            # at hand (parquet footers, a cached count) should pass
            # corpus_count — on filtered/derived frames this is a full
            # Spark job, not a metadata read.
            corpus_count = df.count()
        band_bits = _phash_auto_band_bits(corpus_count, n_slices, max_hamming)
    elif corpus_count is None:
        # band_bits explicit: the count would ONLY pick the join
        # strategy — not worth a full pass over a derived frame. Take
        # the conservative (scale-safe) merge hint; callers who want the
        # small-corpus broadcast back pass corpus_count (the catalog
        # threads parquet footer counts).
        corpus_count = PHASH_AUDIT_MAX_ROWS + 1
    n_bands = n_slices // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands "
            f"({n_bands}); got {max_hamming} — use narrower band_bits"
        )
    sigs = ahash_signatures(df, id_col, payload_col, n_slices, band_bits)
    cand = sigs.select(
        F.col(id_col).alias("__id"),
        F.posexplode("bands").alias("__b", "__v"),
    )
    if max_bucket is not None:
        sizes = cand.groupBy("__b", "__v").agg(
            F.count(F.lit(1)).alias("__n")
        ).filter(F.col("__n") <= max_bucket)
        cand = cand.join(sizes.select("__b", "__v"), ["__b", "__v"])
    # corpus x corpus band self-join: past audit scale, force sort-merge
    # (the posexploded band table is 3 narrow ints/row and can estimate
    # under the broadcast threshold at corpus scale while its
    # deserialized rows blow the driver — see contrastive_pairs). At
    # audit scale the hint is NOT applied: a broadcast there is correct
    # and the forced sort was a measured bench tax (so the hint is
    # conditioned on build-side size).
    a_side = cand.alias("a")
    if corpus_count > PHASH_AUDIT_MAX_ROWS:
        a_side = a_side.hint("merge")
    pairs = (
        a_side
        .join(
            cand.alias("b"),
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__v") == F.col("b.__v"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    ba = sigs.select(F.col(id_col).alias("id_a"), F.col("bits").alias("__ba"))
    bb = sigs.select(F.col(id_col).alias("id_b"), F.col("bits").alias("__bb"))
    return (
        pairs.join(ba, "id_a")
        .join(bb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(zip_with(__ba, __bb, (x, y) -> abs(x - y)), "
                "0, (acc, v) -> acc + v)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def extract_image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    parse_jpeg: bool = False,
    parse_tiff: bool = False,
) -> DataFrame:
    """REAL image-header metadata from binary payloads — no imaging
    library required, because container dimensions live in the header
    bytes: PNG (IHDR big-endian uint32 pair at offset 16), GIF
    (logical-screen little-endian uint16 pair at offset 6), BMP
    (int32-LE pair at offset 18; top-down bitmaps store a negative
    height, reported as its magnitude), WebP (RIFF container — VP8X
    extended header 24-bit-LE canvas dims, VP8L lossless 14-bit-packed
    dims, VP8 lossy 14-bit dims behind the 9D012A sync code), JPEG
    (SOFn segment found by a marker walk), and TIFF (first-IFD tag
    walk, II and MM byte orders). This removes the environment gate
    from the most-asked multimodal question ("what size is this
    image?") — only pixel DECODING stays stubbed.

    PNG/GIF/BMP/WebP parse as fixed-offset hex arithmetic in pure
    Catalyst (let-bound hex string, integer conv) — zero Python, zero
    shuffle, oracle-replayable. JPEG and TIFF need variable-length
    walks: ``parse_jpeg=True`` / ``parse_tiff=True`` run an
    Arrow-batched mapInPandas kernel for rows detected as those
    formats (bounded per-row work, no shuffle); with the defaults
    False they are detected (format='jpeg'/'tiff') with NULL dims.

    Returns (``id_col``, format, width, height) — format NULL for
    unrecognized payloads, dims NULL when not parseable.
    """

    def _le(byte_off: int, n_bytes: int) -> str:
        """Little-endian unsigned int read as a hex-substring sum
        (byte N lives at hex position 2N+1)."""
        return " + ".join(
            f"{256 ** k} * CAST(conv(substring(hx, {2 * (byte_off + k) + 1}, 2), 16, 10) AS BIGINT)"
            for k in range(n_bytes)
        )

    bmp_h = f"element_at(transform(array({_le(22, 4)}), v -> IF(v >= 2147483648, 4294967296 - v, v)), 1)"
    hx_case = f"""
      element_at(transform(array(hex(__p)), hx ->
        CASE
          WHEN hx LIKE '89504E470D0A1A0A%' THEN
            struct('png' AS format,
                   CAST(conv(substring(hx, 33, 8), 16, 10) AS INT) AS width,
                   CAST(conv(substring(hx, 41, 8), 16, 10) AS INT) AS height)
          WHEN substring(hx, 1, 12) IN ('474946383761', '474946383961') THEN
            struct('gif' AS format,
                   CAST(conv(substring(hx, 13, 2), 16, 10)
                        + 256 * conv(substring(hx, 15, 2), 16, 10) AS INT)
                     AS width,
                   CAST(conv(substring(hx, 17, 2), 16, 10)
                        + 256 * conv(substring(hx, 19, 2), 16, 10) AS INT)
                     AS height)
          WHEN substring(hx, 1, 4) = '424D' AND length(hx) >= 52 THEN
            struct('bmp' AS format,
                   CAST({_le(18, 4)} AS INT) AS width,
                   CAST({bmp_h} AS INT) AS height)
          WHEN substring(hx, 1, 8) = '52494646'
               AND substring(hx, 17, 8) = '57454250' THEN
            CASE substring(hx, 25, 8)
              WHEN '56503858' THEN
                struct('webp' AS format,
                       CAST(1 + {_le(24, 3)} AS INT) AS width,
                       CAST(1 + {_le(27, 3)} AS INT) AS height)
              WHEN '5650384C' THEN
                IF(substring(hx, 41, 2) = '2F',
                   element_at(transform(array({_le(21, 4)}), v ->
                     struct('webp' AS format,
                            CAST(v % 16384 + 1 AS INT) AS width,
                            CAST((v div 16384) % 16384 + 1 AS INT)
                              AS height)), 1),
                   struct('webp' AS format, CAST(NULL AS INT) AS width,
                          CAST(NULL AS INT) AS height))
              WHEN '56503820' THEN
                IF(substring(hx, 47, 6) = '9D012A',
                   struct('webp' AS format,
                          CAST(({_le(26, 2)}) % 16384 AS INT) AS width,
                          CAST(({_le(28, 2)}) % 16384 AS INT) AS height),
                   struct('webp' AS format, CAST(NULL AS INT) AS width,
                          CAST(NULL AS INT) AS height))
              ELSE struct('webp' AS format, CAST(NULL AS INT) AS width,
                          CAST(NULL AS INT) AS height)
            END
          WHEN substring(hx, 1, 6) = 'FFD8FF' THEN
            struct('jpeg' AS format, CAST(NULL AS INT) AS width,
                   CAST(NULL AS INT) AS height)
          WHEN substring(hx, 1, 8) IN ('49492A00', '4D4D002A') THEN
            struct('tiff' AS format, CAST(NULL AS INT) AS width,
                   CAST(NULL AS INT) AS height)
          ELSE struct(CAST(NULL AS STRING) AS format, CAST(NULL AS INT)
                        AS width, CAST(NULL AS INT) AS height)
        END), 1)
    """
    out = (
        df.select(F.col(id_col).alias(id_col), F.col(payload_col).alias("__p"))
        .withColumn("__m", F.expr(hx_case))
        .select(
            id_col,
            F.col("__m.format").alias("format"),
            F.col("__m.width").alias("width"),
            F.col("__m.height").alias("height"),
            "__p",
        )
    )
    deep = []
    if parse_jpeg:
        deep.append("jpeg")
    if parse_tiff:
        deep.append("tiff")
    if not deep:
        return out.drop("__p")

    sel = out.filter(F.col("format").isin(deep))
    rest = out.filter(
        F.col("format").isNull() | ~F.col("format").isin(deep)
    ).drop("__p")

    schema = f"{id_col} long, format string, width int, height int"

    def _jpeg_dims(b: bytes):
        w = h = None
        i = 2
        # SOF0-3, SOF5-7, SOF9-11, SOF13-15 all carry dims
        sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        while i + 9 < len(b):
            if b[i] != 0xFF:
                break
            # JPEG permits runs of 0xFF fill bytes before a
            # marker (ISO 10918-1 B.1.1.2); skip them so the
            # padding byte is never misread as a length field
            while i + 9 < len(b) and b[i + 1] == 0xFF:
                i += 1
            m = b[i + 1]
            if m in sof:
                h = (b[i + 5] << 8) | b[i + 6]
                w = (b[i + 7] << 8) | b[i + 8]
                break
            if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            seglen = (b[i + 2] << 8) | b[i + 3]
            i += 2 + seglen
        return w, h

    def _tiff_dims(b: bytes):
        """Baseline TIFF 6.0 IFD walk: first IFD only, ImageWidth (256)
        / ImageLength (257), SHORT or LONG inline values."""
        if len(b) < 8:
            return None, None
        bo = "little" if b[:2] == b"II" else "big"
        off = int.from_bytes(b[4:8], bo)
        if off + 2 > len(b):
            return None, None
        n = int.from_bytes(b[off:off + 2], bo)
        w = h = None
        for k in range(n):
            e = off + 2 + 12 * k
            if e + 12 > len(b):
                break
            tag = int.from_bytes(b[e:e + 2], bo)
            typ = int.from_bytes(b[e + 2:e + 4], bo)
            if tag in (256, 257):
                if typ == 3:      # SHORT: value in the first 2 bytes
                    v = int.from_bytes(b[e + 8:e + 10], bo)
                elif typ == 4:    # LONG
                    v = int.from_bytes(b[e + 8:e + 12], bo)
                else:
                    continue
                if tag == 256:
                    w = v
                else:
                    h = v
            if w is not None and h is not None:
                break
        return w, h

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, ws, hs = [], [], [], []
            for _, row in pdf.iterrows():
                b = bytes(row["__p"])
                fmt = row["format"]
                w, h = (_tiff_dims(b) if fmt == "tiff" else _jpeg_dims(b))
                ids.append(row[id_col]); fmts.append(fmt)
                ws.append(w); hs.append(h)
            yield pd.DataFrame({
                id_col: ids, "format": fmts,
                "width": pd.array(ws, dtype="Int32"),
                "height": pd.array(hs, dtype="Int32"),
            })

    return rest.unionByName(
        sel.select(id_col, "format", "__p").mapInPandas(walk, schema)
    )


def extract_media_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    parse_deep: bool = False,
) -> DataFrame:
    """REAL audio/video container metadata from binary payloads — the
    media twin of ``extract_image_meta``, no codec library required,
    because the asked-for fields live in the container header bytes
    (all formats public specs: RIFF/WAVE, FLAC STREAMINFO, ISO-BMFF,
    ID3/MPEG sync, OggS, EBML):

    - WAV (RIFF/WAVE): PCM fmt chunk at the standard offset —
      channels (LE16@22), sample_rate (LE32@24), bits (LE16@34);
      duration from the data-chunk size when the canonical 16-byte fmt
      layout puts 'data' at offset 36 (the overwhelmingly common
      shape). Non-canonical chunk orders are detected (format='wav')
      with NULL duration — or fully walked with ``parse_deep=True``.
    - FLAC: the mandatory first STREAMINFO block is fixed-offset —
      sample rate (20 bits), channels (3 bits), bits-per-sample
      (5 bits), total samples (36 bits) unpacked with hex arithmetic;
      duration_ms = samples·1000 div rate.
    - MP4/ISO-BMFF ('ftyp'): detected in Catalyst; duration needs the
      mvhd box inside the variable-position moov box → ``parse_deep``
      runs a bounded box walk (versions 0 and 1) in an Arrow kernel,
      which also reads the first mp4a/alac AudioSampleEntry's
      channelcount / samplesize / 16.16-fixed samplerate from the
      moov→trak→mdia→minf→stbl→stsd chain.
    - MP3 (ID3v2 tag or MPEG frame sync), OGG ('OggS'), Matroska/WebM
      (EBML magic): detected, fields NULL (frame-level bitrate tables
      are codec work, out of scope for header metadata).

    Catalyst tier is fixed-offset hex arithmetic on a let-bound hex
    string — zero Python, zero shuffle, oracle-replayable; the deep
    tier is per-row bounded work in mapInPandas (same shape as the
    JPEG/TIFF walks). Returns (``id_col``, media_format, sample_rate,
    channels, bits_per_sample, duration_ms); format NULL when
    unrecognized, fields NULL when not parseable at the chosen tier.
    """

    def _le(byte_off: int, n_bytes: int) -> str:
        return " + ".join(
            f"{256 ** k} * CAST(conv(substring(hx, {2 * (byte_off + k) + 1}, 2), 16, 10) AS BIGINT)"
            for k in range(n_bytes)
        )

    def _be(byte_off: int, n_bytes: int) -> str:
        return (f"CAST(conv(substring(hx, {2 * byte_off + 1}, "
                f"{2 * n_bytes}), 16, 10) AS BIGINT)")

    # WAV: canonical PCM layout — 'fmt ' at 12 with a 16-byte body puts
    # 'data' at 36; duration_ms = 8000·data_size div (rate·ch·bits)
    wav_rate, wav_ch, wav_bits = _le(24, 4), _le(22, 2), _le(34, 2)
    wav_canon = (
        f"substring(hx, 25, 8) = '666D7420' AND ({_le(16, 4)}) = 16 "
        "AND substring(hx, 73, 8) = '64617461'"
    )
    wav_dur = (
        f"IF({wav_canon} AND ({wav_rate}) * ({wav_ch}) * ({wav_bits}) > 0, "
        f"8000 * ({_le(40, 4)}) div (({wav_rate}) * ({wav_ch}) * ({wav_bits})), "
        "CAST(NULL AS BIGINT))"
    )
    wav_fields = (
        f"IF(substring(hx, 25, 8) = '666D7420', "
        f"struct('wav' AS media_format, CAST({wav_rate} AS INT) AS sample_rate, "
        f"CAST({wav_ch} AS INT) AS channels, CAST({wav_bits} AS INT) AS bits_per_sample, "
        f"{wav_dur} AS duration_ms), "
        "struct('wav' AS media_format, CAST(NULL AS INT) AS sample_rate, "
        "CAST(NULL AS INT) AS channels, CAST(NULL AS INT) AS bits_per_sample, "
        "CAST(NULL AS BIGINT) AS duration_ms))"
    )
    # FLAC STREAMINFO (mandatory first block): bytes 18-20 pack
    # rate(20)|ch(3)|bps-high(1); byte 21 packs bps-low(4)|samples-high(4)
    fl_v, fl_b21, fl_tail = _be(18, 3), _be(21, 1), _be(22, 4)
    fl_rate = f"(({fl_v}) div 16)"
    fl_ch = f"((({fl_v}) div 2) % 8 + 1)"
    fl_bps = f"((({fl_v}) % 2) * 16 + (({fl_b21}) div 16) + 1)"
    fl_total = f"((({fl_b21}) % 16) * 4294967296 + ({fl_tail}))"
    fl_struct = (
        f"struct('flac' AS media_format, CAST({fl_rate} AS INT) AS sample_rate, "
        f"CAST({fl_ch} AS INT) AS channels, CAST({fl_bps} AS INT) AS bits_per_sample, "
        f"IF({fl_rate} > 0, ({fl_total}) * 1000 div ({fl_rate}), "
        "CAST(NULL AS BIGINT)) AS duration_ms)"
    )
    null_fields = (
        "CAST(NULL AS INT) AS sample_rate, CAST(NULL AS INT) AS channels, "
        "CAST(NULL AS INT) AS bits_per_sample, CAST(NULL AS BIGINT) AS duration_ms"
    )
    hx_case = f"""
      element_at(transform(array(hex(__p)), hx ->
        CASE
          WHEN substring(hx, 1, 8) = '52494646'
               AND substring(hx, 17, 8) = '57415645' THEN {wav_fields}
          WHEN substring(hx, 1, 8) = '664C6143'
               AND substring(hx, 9, 2) IN ('00', '80')
               AND length(hx) >= 52 THEN {fl_struct}
          WHEN substring(hx, 9, 8) = '66747970' THEN
            struct('mp4' AS media_format, {null_fields})
          WHEN substring(hx, 1, 6) = '494433'
               OR substring(hx, 1, 3) = 'FFF' THEN
            struct('mp3' AS media_format, {null_fields})
          WHEN substring(hx, 1, 8) = '4F676753' THEN
            struct('ogg' AS media_format, {null_fields})
          WHEN substring(hx, 1, 8) = '1A45DFA3' THEN
            struct('matroska' AS media_format, {null_fields})
          ELSE struct(CAST(NULL AS STRING) AS media_format, {null_fields})
        END), 1)
    """
    out = (
        df.select(F.col(id_col).alias(id_col), F.col(payload_col).alias("__p"))
        .withColumn("__m", F.expr(hx_case))
        .select(
            id_col,
            F.col("__m.media_format").alias("media_format"),
            F.col("__m.sample_rate").alias("sample_rate"),
            F.col("__m.channels").alias("channels"),
            F.col("__m.bits_per_sample").alias("bits_per_sample"),
            F.col("__m.duration_ms").alias("duration_ms"),
            "__p",
        )
    )
    if not parse_deep:
        return out.drop("__p")

    # deep tier: full WAV chunk walk (non-canonical orders) and MP4
    # moov/mvhd box walk — only rows the Catalyst tier could not finish
    need = F.col("media_format").isin(["wav", "mp4"]) & F.col(
        "duration_ms"
    ).isNull()
    sel = out.filter(need)
    rest = out.filter(~F.coalesce(need, F.lit(False))).drop("__p")

    schema = (
        f"{id_col} long, media_format string, sample_rate int, "
        "channels int, bits_per_sample int, duration_ms long"
    )

    def _wav_walk(b: bytes):
        rate = ch = bits = None
        data_size = None
        i, end = 12, len(b)
        while i + 8 <= end:
            cid = b[i:i + 4]
            size = int.from_bytes(b[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 24 <= end:
                ch = int.from_bytes(b[i + 10:i + 12], "little")
                rate = int.from_bytes(b[i + 12:i + 16], "little")
                if i + 24 <= end:
                    bits = int.from_bytes(b[i + 22:i + 24], "little")
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size % 2)  # chunks are word-aligned
        dur = None
        if data_size is not None and rate and ch and bits:
            denom = rate * ch * bits
            if denom > 0:
                dur = 8000 * data_size // denom
        return rate, ch, bits, dur

    def _mp4_walk(b: bytes):
        """Bounded ISO-BMFF walk: mvhd movie duration plus the first
        mp4a/alac AudioSampleEntry's channelcount/samplesize/samplerate
        (16.16 fixed point) from moov→trak→mdia→minf→stbl→stsd. Video
        sample entries stay out of scope (dims belong to
        extract_image_meta's schema, not this one)."""

        def boxes(lo: int, hi: int):
            i = lo
            while i + 8 <= hi:
                size = int.from_bytes(b[i:i + 4], "big")
                typ = b[i + 4:i + 8]
                body = i + 8
                if size == 1 and i + 16 <= hi:
                    size = int.from_bytes(b[i + 8:i + 16], "big")
                    body = i + 16
                if size < 8 or i + size > hi:
                    return
                yield typ, body, i + size
                i += size

        def child(lo, hi, name):
            for t, body, end in boxes(lo, hi):
                if t == name:
                    return body, end
            return None

        def audio_entry(stsd_body, stsd_end):
            # stsd: fullbox(4) + entry_count(4), then sample entries
            for t, body, end in boxes(stsd_body + 8, stsd_end):
                if t in (b"mp4a", b"alac") and body + 28 <= end:
                    ch = int.from_bytes(b[body + 16:body + 18], "big")
                    bits = int.from_bytes(b[body + 18:body + 20], "big")
                    rate = int.from_bytes(b[body + 24:body + 28],
                                          "big") >> 16
                    return (rate or None), (ch or None), (bits or None)
            return None

        rate = ch = bits = dur = None
        for typ, body, box_end in boxes(0, len(b)):
            if typ != b"moov":
                continue
            for t2, b2, e2 in boxes(body, box_end):
                if t2 == b"mvhd" and b2 + 4 <= len(b):
                    version = b[b2]
                    if version == 0 and b2 + 24 <= len(b):
                        ts = int.from_bytes(b[b2 + 12:b2 + 16], "big")
                        d = int.from_bytes(b[b2 + 16:b2 + 20], "big")
                    elif version == 1 and b2 + 32 <= len(b):
                        ts = int.from_bytes(b[b2 + 20:b2 + 24], "big")
                        d = int.from_bytes(b[b2 + 24:b2 + 32], "big")
                    else:
                        continue
                    if ts:
                        dur = d * 1000 // ts
                elif t2 == b"trak" and (rate, ch, bits) == (None,) * 3:
                    path = (b2, e2)
                    for name in (b"mdia", b"minf", b"stbl", b"stsd"):
                        nxt = child(path[0], path[1], name)
                        if nxt is None:
                            path = None
                            break
                        path = nxt
                    if path is not None:
                        found = audio_entry(path[0], path[1])
                        if found:
                            rate, ch, bits = found
            break
        return rate, ch, bits, dur

    def walk(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for pdf in batches:
            ids, fmts, rates, chs, bits_, durs = [], [], [], [], [], []
            for _, row in pdf.iterrows():
                b = bytes(row["__p"])
                fmt = row["media_format"]
                if fmt == "wav":
                    rate, ch, bits, dur = _wav_walk(b)
                else:
                    rate, ch, bits, dur = _mp4_walk(b)
                ids.append(row[id_col]); fmts.append(fmt)
                rates.append(rate); chs.append(ch)
                bits_.append(bits); durs.append(dur)
            yield pd.DataFrame({
                id_col: ids, "media_format": fmts,
                "sample_rate": pd.array(rates, dtype="Int32"),
                "channels": pd.array(chs, dtype="Int32"),
                "bits_per_sample": pd.array(bits_, dtype="Int32"),
                "duration_ms": pd.array(durs, dtype="Int64"),
            })

    return rest.unionByName(
        sel.select(id_col, "media_format", "__p").mapInPandas(walk, schema)
    )


# ---------------------------------------------------------------------------
# EXIF metadata: extraction + PII stripping
# ---------------------------------------------------------------------------


def _exif_tiff_blob(b: bytes):
    """Locate the EXIF TIFF blob: a bare TIFF file is the blob itself;
    a JPEG is segment-walked to the first APP1 whose body starts with
    'Exif\\x00\\x00'. Returns (tiff_bytes | None, [(seg_start,
    seg_end), ...]) where the spans cover every Exif APP1 segment
    (marker through payload end — the byte ranges strip removes)."""
    # bare TIFF requires the full magic — byte order AND the 42 marker;
    # 'II'/'MM' alone misclassifies ordinary text ("MM. Chapter ...")
    if len(b) >= 8 and b[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return b, []
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None, []
    tiff, spans = None, []
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        while i + 4 <= len(b) and b[i + 1] == 0xFF:
            i += 1  # fill bytes (ISO 10918-1 B.1.1.2)
        m = b[i + 1]
        if m == 0xD9 or m == 0xDA:          # EOI / SOS: entropy data next
            break
        if m == 0x01 or 0xD0 <= m <= 0xD8:  # parameterless markers
            i += 2
            continue
        if i + 4 > len(b):
            break
        seglen = (b[i + 2] << 8) | b[i + 3]
        if seglen < 2 or i + 2 + seglen > len(b):
            break                            # truncated: stop, never crash
        body = b[i + 4:i + 2 + seglen]
        if m == 0xE1 and body[:6] == b"Exif\x00\x00":
            spans.append((i, i + 2 + seglen))
            if tiff is None:
                tiff = body[6:]
        i += 2 + seglen
    return tiff, spans


def _tiff_ifd_entries(b: bytes, off: int, bo: str):
    """Yield (tag, type, count, value_or_offset_bytes) from one IFD;
    bounds-checked, silently stops on truncation."""
    if off < 0 or off + 2 > len(b):
        return
    n = int.from_bytes(b[off:off + 2], bo)
    for k in range(n):
        e = off + 2 + 12 * k
        if e + 12 > len(b):
            return
        yield (
            int.from_bytes(b[e:e + 2], bo),
            int.from_bytes(b[e + 2:e + 4], bo),
            int.from_bytes(b[e + 4:e + 8], bo),
            b[e + 8:e + 12],
        )


def _tiff_ascii(b: bytes, count: int, val: bytes, bo: str):
    """ASCII tag value: inline when count <= 4, else offset-addressed;
    trailing NULs stripped."""
    if count <= 4:
        raw = val[:count]
    else:
        off = int.from_bytes(val, bo)
        if off + count > len(b):
            return None
        raw = b[off:off + count]
    try:
        return raw.split(b"\x00", 1)[0].decode("ascii")
    except UnicodeDecodeError:
        return None


def _exif_walk(b: bytes):
    """Parse orientation / DateTimeOriginal / GPS presence from the
    EXIF TIFF blob of a JPEG or bare TIFF. Returns (present,
    orientation, datetime_original, has_gps)."""
    tiff, _ = _exif_tiff_blob(b)
    if tiff is None or len(tiff) < 8:
        return False, None, None, None
    # TIFF header magic must be exactly II*\0 or MM\0* (TIFF 6.0 §2):
    # an APP1 that starts 'Exif\0\0' but carries garbage where the TIFF
    # header belongs is NOT decodable EXIF — report absent (has_gps
    # stays NULL = unknown) instead of walking garbage as big-endian
    # and flagging present with all-NULL fields
    if tiff[:4] == b"II*\x00":
        bo = "little"
    elif tiff[:4] == b"MM\x00*":
        bo = "big"
    else:
        return False, None, None, None
    ifd0 = int.from_bytes(tiff[4:8], bo)
    orient = dt = None
    exif_off = gps_off = None
    dt_ifd0 = None
    for tag, typ, cnt, val in _tiff_ifd_entries(tiff, ifd0, bo):
        if tag == 274 and typ == 3:
            orient = int.from_bytes(val[:2], bo)
        elif tag == 306 and typ == 2:
            dt_ifd0 = _tiff_ascii(tiff, cnt, val, bo)
        elif tag == 34665 and typ == 4:
            exif_off = int.from_bytes(val, bo)
        elif tag == 34853 and typ == 4:
            gps_off = int.from_bytes(val, bo)
    if exif_off is not None:
        for tag, typ, cnt, val in _tiff_ifd_entries(tiff, exif_off, bo):
            if tag == 36867 and typ == 2:
                dt = _tiff_ascii(tiff, cnt, val, bo)
    return True, orient, dt or dt_ifd0, gps_off is not None


def extract_exif_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """EXIF header metadata from JPEG APP1 / bare TIFF payloads —
    curation signals image CONTENT decoding cannot give: orientation
    (tag 274; rotation-invariant perceptual dedup needs it),
    DateTimeOriginal (36867, falling back to IFD0 DateTime 306;
    temporal splits of photo corpora), and GPSInfo PRESENCE (34853 —
    the PII flag privacy audits gate on). No codec library: the EXIF
    container is a TIFF IFD tree (TIFF 6.0 + EXIF 2.3 specs), walked
    with the same bounds-checked byte arithmetic as the image/media
    header kernels; truncated or foreign payloads yield NULLs, never
    errors.

    Scale shape: one Arrow-batched mapInPandas pass, per-row bounded
    work, no shuffle — parallelizes with the file splits like every
    deep-tier walk in this module. Returns (``id_col``, exif_present,
    orientation, datetime_original, has_gps); has_gps is NULL when no
    EXIF block exists (unknown, not false)."""
    schema = (f"{id_col} long, exif_present boolean, orientation int, "
              "datetime_original string, has_gps boolean")

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pres, ors, dts, gps = [], [], [], [], []
            for _, row in pdf.iterrows():
                p, o, d, g = _exif_walk(bytes(row["__p"]))
                ids.append(row[id_col]); pres.append(p)
                ors.append(o); dts.append(d)
                gps.append(g if p else None)
            yield pd.DataFrame({
                id_col: ids, "exif_present": pres,
                "orientation": pd.array(ors, dtype="Int32"),
                "datetime_original": dts,
                "has_gps": pd.array(gps, dtype="boolean"),
            })

    return df.select(
        F.col(id_col), F.col(payload_col).alias("__p")
    ).mapInPandas(walk, schema)


def strip_exif_jpeg(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Remove every Exif APP1 segment from JPEG payloads — the
    metadata-PII scrub (GPS coordinates, capture timestamps, device
    serials) that privacy-compliant image-corpus publication requires;
    pixel data and every non-Exif segment are byte-preserved, so the
    image still decodes identically. Non-JPEG and Exif-free payloads
    pass through untouched. Same single-pass mapInPandas shape as the
    extraction kernel. Returns (``id_col``, ``payload_col``,
    n_stripped_bytes)."""
    schema = f"{id_col} long, {payload_col} binary, n_stripped_bytes long"

    def strip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs, ns = [], [], []
            for _, row in pdf.iterrows():
                b = bytes(row["__p"])
                _, spans = _exif_tiff_blob(b)
                if spans:
                    kept, pos = [], 0
                    for s, e in spans:
                        kept.append(b[pos:s])
                        pos = e
                    kept.append(b[pos:])
                    out = b"".join(kept)
                else:
                    out = b
                ids.append(row[id_col]); outs.append(out)
                ns.append(len(b) - len(out))
            yield pd.DataFrame({
                id_col: ids, payload_col: outs,
                "n_stripped_bytes": pd.array(ns, dtype="Int64"),
            })

    return df.select(
        F.col(id_col), F.col(payload_col).alias("__p")
    ).mapInPandas(strip, schema)

"""Round-7 regression pins for the round-6 advisory findings:

1. JPEG marker walk must skip 0xFF fill/padding bytes (ISO 10918-1
   B.1.1.2) instead of misreading them as a segment length.
2. embedding_covariance must be exact for components past the old
   implicit |x·scale| ≤ sqrt(2^63) bound (int64 pair-products wrapped).
3. mmr_rerank must accept non-long (string) query/doc id columns.
4. pca_project must not re-scan the corpus for means (covariance now
   carries them) and must raise a clear error on empty input.
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. JPEG 0xFF fill bytes
# ---------------------------------------------------------------------------

def _jpeg_padded(w, h, pad):
    """JPEG with `pad` 0xFF fill bytes between APP0 and SOF0 — spec-legal
    padding that desynced the old walk (it read the fill byte pair as a
    segment length)."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9)
    return b"\xff\xd8" + app0 + b"\xff" * pad + sof + b"\xff\xd9"


def test_jpeg_marker_walk_skips_fill_bytes(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        extract_image_meta,
    )

    rows = [
        (1, bytearray(_jpeg_padded(800, 600, 1))),
        (2, bytearray(_jpeg_padded(31, 7, 5))),
        (3, bytearray(_jpeg_padded(1024, 768, 0))),  # no padding: unchanged
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: (r["format"], r["width"], r["height"])
           for r in extract_image_meta(df, parse_jpeg=True).collect()}
    assert out[1] == ("jpeg", 800, 600)
    assert out[2] == ("jpeg", 31, 7)
    assert out[3] == ("jpeg", 1024, 768)


# ---------------------------------------------------------------------------
# 2. covariance pair-products past the int64 wrap bound
# ---------------------------------------------------------------------------

def test_embedding_covariance_large_components_exact(spark):
    import numpy as np

    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    # |x| up to 5000: scaled 5e9 -> pair product 2.5e19 > int64 max
    # (9.22e18) — the old int64 product wrapped silently here.
    rows = [
        (0, [5000.0, -4000.0]),
        (1, [4800.0, 4900.0]),
        (2, [-4500.0, 100.0]),
        (3, [3.5, -2.25]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in embedding_covariance(df).collect()}
    Xq = np.round(np.array([v for _, v in rows]) * 1e6)
    n = len(rows)
    for (i, j), cov in got.items():
        # exact integer sums via python ints (numpy float64 would round)
        col_i = [int(x) for x in Xq[:, i]]
        col_j = [int(x) for x in Xq[:, j]]
        sxy = float(sum(a * b for a, b in zip(col_i, col_j)))
        sxi, sxj = float(sum(col_i)), float(sum(col_j))
        want = round((sxy - sxi * sxj / n) / n / 1e12, 9)
        assert cov == pytest.approx(want, rel=1e-12), (i, j)
    # sanity: the wrapped int64 value would have been wildly off
    assert got[(0, 0)] > 1e7


def test_embedding_covariance_include_means(spark):
    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = [(0, [1.0, 10.0]), (1, [3.0, 30.0]), (2, [5.0, 20.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r["i"], r["j"]): r for r in
           embedding_covariance(df, include_means=True).collect()}
    assert out[(0, 0)]["mean_i"] == pytest.approx(3.0)
    assert out[(1, 1)]["mean_i"] == pytest.approx(20.0)
    # default output schema unchanged (no mean_i column)
    assert "mean_i" not in embedding_covariance(df).columns


# ---------------------------------------------------------------------------
# 3. mmr_rerank with string ids
# ---------------------------------------------------------------------------

def test_mmr_rerank_string_ids(spark):
    from knime_core_columnar_spark.operators.similarity import mmr_rerank

    rows = [
        ("qA", "docX", 1_000_000, [1.0, 0.0]),
        ("qA", "docY", 990_000, [0.999, 0.04]),   # near-dup of docX
        ("qA", "docZ", 700_000, [0.0, 1.0]),      # orthogonal
    ]
    df = spark.createDataFrame(
        rows,
        "query_id string, doc_id string, rel_scaled long, "
        "embedding array<double>",
    )
    out = {r["mmr_rank"]: r["doc_id"]
           for r in mmr_rerank(df, k=3, lambda_milli=700).collect()}
    assert out[1] == "docX"
    assert out[2] == "docZ"   # diversity beats the near-dup
    assert out[3] == "docY"


# ---------------------------------------------------------------------------
# 4. pca_project: one corpus scan, clear empty-input error
# ---------------------------------------------------------------------------

def test_pca_project_empty_input_raises(spark):
    from knime_core_columnar_spark.operators.similarity import pca_project

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no rows"):
        pca_project(df, n_components=1)


def test_pca_project_single_scan_means(spark):
    """The projection must center on the exact per-dimension means
    (carried by the covariance aggregate): a constant-shifted copy of
    the data projects identically."""
    import hashlib

    from knime_core_columnar_spark.operators.similarity import pca_project

    rows = []
    for i in range(40):
        h = hashlib.md5(f"pca|{i}".encode()).digest()
        rows.append((i, [(h[0] - 127.5) / 31.0, (h[1] - 127.5) / 127.5]))
    shifted = [(i, [v[0] + 100.0, v[1] - 50.0]) for i, v in rows]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(shifted, "vec_id long, embedding array<double>")
    pa = sorted(tuple(r) for r in pca_project(a, n_components=2).collect())
    pb = sorted(tuple(r) for r in pca_project(b, n_components=2).collect())
    for ra, rb in zip(pa, pb):
        assert ra[0] == rb[0]
        assert ra[1] == pytest.approx(rb[1], abs=1e-6)
        assert ra[2] == pytest.approx(rb[2], abs=1e-6)


# ---------------------------------------------------------------------------
# 5. pHash defaults are scale-safe: auto-tier band_bits + finite max_bucket
# ---------------------------------------------------------------------------

def test_phash_auto_band_bits_tier_switch():
    from knime_core_columnar_spark.operators.multimodal import (
        _phash_auto_band_bits,
    )

    # audit scale -> narrowest valid bands (max recall margin)
    assert _phash_auto_band_bits(500, 64, 6) == 4
    assert _phash_auto_band_bits(100_000, 64, 6) == 4
    # past PHASH_AUDIT_MAX_ROWS -> widest valid bands; max_hamming=6 needs
    # > 6 bands so 16-bit bands (4 bands) are pigeonhole-invalid -> 8
    assert _phash_auto_band_bits(100_001, 64, 6) == 8
    # a scale corpus with max_hamming <= 3 can take the 16-bit bands
    assert _phash_auto_band_bits(10_0000_000, 64, 3) == 16
    # no valid width -> loud error, never a silent recall hole
    with pytest.raises(ValueError, match="pigeonhole"):
        _phash_auto_band_bits(10, 64, 16)


def test_phash_defaults_cap_degenerate_buckets(spark):
    """Taking the DEFAULTS (band_bits auto, max_bucket finite) on a
    degenerate corpus — many constant-byte payloads hashing alike —
    completes and skips the blown bucket instead of going quadratic."""
    from knime_core_columnar_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rows = [(i, bytearray(b"\x00" * 64)) for i in range(30)]  # degenerate
    rows += [(100 + i, bytearray(f"document number {i} ".encode() * 8))
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    # cap below the degenerate bucket population: its pairs are skipped
    capped = phash_near_dup_pairs(df, max_hamming=6, max_bucket=10)
    ids = {r["id_a"] for r in capped.collect()} | {
        r["id_b"] for r in capped.collect()}
    assert not any(i < 30 for i in ids)  # degenerate block skipped
    # defaults (max_bucket=1_000) keep them at this tiny scale
    full = phash_near_dup_pairs(df, max_hamming=6)
    pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
    assert (0, 1) in pairs


# ---------------------------------------------------------------------------
# 6. merge hints conditioned on corpus size (round-6 bench-tax finding)
# ---------------------------------------------------------------------------

def _merge_hinted(df):
    """Whether the plan's join carries the merge strategy hint. Asserted
    on the optimized LOGICAL plan: the static physical plan picks SMJ
    for these aggregated subtrees either way (unknown sizes) and it is
    AQE that converts to broadcast at runtime — the hint is precisely
    what FORBIDS that conversion, so its presence is the contract."""
    return "strategy=merge" in df._jdf.queryExecution().optimizedPlan().toString()


def test_contrastive_merge_hint_conditioned(spark):
    """Small corpora must NOT pay the forced sort-merge (AQE may
    broadcast); past merge_hint_min_rows the hint must appear."""
    import hashlib

    from knime_core_columnar_spark.operators.similarity import (
        contrastive_pairs,
    )

    rows = []
    for i in range(50):
        h = hashlib.md5(f"c|{i}".encode()).digest()
        rows.append((i, [(b - 127.5) / 127.5 for b in h[:8]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert not _merge_hinted(contrastive_pairs(df, dim=8, planes=2))
    assert _merge_hinted(
        contrastive_pairs(df, dim=8, planes=2, corpus_count=200_000))


def test_cross_lingual_merge_hint_conditioned(spark):
    import hashlib

    from knime_core_columnar_spark.operators.similarity import (
        cross_lingual_pairs,
    )

    rows, docs = [], []
    for i in range(30):
        h = hashlib.md5(f"x|{i}".encode()).digest()
        rows.append((i, [(b - 127.5) / 127.5 for b in h[:8]]))
        docs.append((i, "en" if i % 2 else "de"))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    d = spark.createDataFrame(docs, "doc_id long, lang string")
    assert not _merge_hinted(cross_lingual_pairs(emb, d, dim=8, planes=2))
    assert _merge_hinted(
        cross_lingual_pairs(emb, d, dim=8, planes=2, corpus_count=200_000))


def test_phash_merge_hint_conditioned(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rows = [(i, bytearray(f"document number {i} filler ".encode() * 4))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert not _merge_hinted(phash_near_dup_pairs(df, max_hamming=6))
    assert _merge_hinted(phash_near_dup_pairs(
        df, max_hamming=6, corpus_count=200_000, band_bits=8))

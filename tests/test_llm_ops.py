"""Tests for the LLM-data-pipeline operators: text analysis, dedup
(exact/MinHash/SimHash/Jaccard), similarity search, multimodal stubs."""

import pytest
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators import dedup as D
from knime_core_columnar_spark.operators import multimodal as M
from knime_core_columnar_spark.operators import similarity as S
from knime_core_columnar_spark.operators import text as X
from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.table import ColumnarTable


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different text about spark engines and data"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "der hund und die katze sind nicht da"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    r = {x["doc_id"]: x["n"] for x in docs.select("doc_id", X.token_count("text").alias("n")).collect()}
    assert r[0] == 9 and r[4] == 8


def test_lang_id(spark, docs):
    r = {x["doc_id"]: x["l"] for x in docs.select("doc_id", X.lang_id("text").alias("l")).collect()}
    assert r[0] == "en" and r[4] == "de"
    assert r[2] == "en"  # 'and' is an en marker; zero-hit docs → 'und'


def test_fingerprint_normalizes_ws(spark):
    df = spark.createDataFrame([("A  b\tc",), ("a b c",)], "t string")
    fps = [r["fp"] for r in df.select(X.fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup(spark, docs):
    t = ColumnarTable.from_dataframe(docs, key_columns=["doc_id"])
    out = D.exact_dedup(t, "text")
    ids = sorted(r["doc_id"] for r in out.df.collect())
    assert ids == [0, 1, 2, 4]  # doc 3 (exact dup of 0, larger key) dropped


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = D.minhash_lsh_candidates(docs, num_perm=16, bands=8)  # 8 bands×2 rows: sensitive
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 3) in got  # exact dups always collide
    assert (0, 1) in got or (1, 3) in got  # near-dup likely caught
    assert (0, 2) not in got  # unrelated docs don't collide


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals[(0, 3)] == 1.0  # identical docs
    assert 0.5 <= vals[(0, 1)] < 1.0  # one-token edit


def test_simhash_near_pairs(spark, docs):
    # 8 bands of 4 bits: pigeonhole guarantees detection up to hamming 7
    pairs = D.simhash_near_pairs(docs, bits=32, max_hamming=6, band_bits=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 3)] == 0  # identical → same signature
    assert (0, 1) in got  # near-dup within hamming 6


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(50):
        base = [math.sin(i * 0.1 + d) for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    out = S.brute_force_topk(vectors, vectors.filter("vec_id = 0"), k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert len(rows) == 3
    assert rows[0]["query_id"] == 0 and rows[0]["neighbor_id"] != 0
    assert rows[0]["cos"] >= rows[1]["cos"] >= rows[2]["cos"]


def test_lsh_topk_recall(spark, vectors):
    exact = S.brute_force_topk(vectors, vectors.filter("vec_id < 5"), k=3)
    approx = S.rp_lsh_topk(vectors, vectors.filter("vec_id < 5"), dim=8, k=3, planes=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # loose: 2 planes → 4 buckets over clustered vectors


def test_embedding_near_dup(spark, vectors):
    pairs = S.embedding_near_dup_pairs(vectors, threshold=0.999)
    for r in pairs.collect():
        assert r["id_a"] < r["id_b"] and r["cos"] >= 0.999


def test_embedding_near_dup_exact_tier_guard(spark, vectors):
    """Forced exact tier hard-fails past exact_max_rows instead of
    broadcasting a corpus that cannot fit (loud error > silent OOM);
    a supplied corpus_count is trusted without an extra counting scan."""
    with pytest.raises(ValueError, match="exact_max_rows"):
        S.embedding_near_dup_pairs(
            vectors, threshold=0.999, use_lsh=False, exact_max_rows=10
        )
    with pytest.raises(ValueError, match="exact_max_rows"):
        S.embedding_near_dup_pairs(
            vectors, threshold=0.999, use_lsh=False, exact_max_rows=10,
            corpus_count=50,
        )
    # under the cap with a known count: no scan, no raise, same result
    pairs = S.embedding_near_dup_pairs(
        vectors, threshold=0.999, use_lsh=False, corpus_count=50
    )
    for r in pairs.collect():
        assert r["id_a"] < r["id_b"] and r["cos"] >= 0.999


def test_multimodal_payload_roundtrip(spark, docs):
    d = M.attach_binary_payload(docs, "text")
    row = d.filter("doc_id = 0").head()
    assert bytes(row["payload"]).decode() == row["text"]
    assert row["payload_meta"]["mime"] == "application/octet-stream"


def test_decode_image_features_deterministic(spark, docs):
    d = M.attach_binary_payload(docs, "text")
    f1 = {r["doc_id"]: (r["width"], r["height"], r["mean_byte"]) for r in M.decode_image_features(d).collect()}
    f2 = {r["doc_id"]: (r["width"], r["height"], r["mean_byte"]) for r in M.decode_image_features(d).collect()}
    assert f1 == f2 and len(f1) == 5


def test_sample_frames_expansion(spark, docs):
    d = M.attach_binary_payload(docs, "text")
    out = M.sample_frames(d, every_n_bytes=10).collect()
    assert len(out) > 5  # 1→N expansion
    per_doc = [r for r in out if r["doc_id"] == 0]
    assert [r["frame_idx"] for r in sorted(per_doc, key=lambda r: r["frame_idx"])] == list(range(len(per_doc)))


def test_ivf_topk_recall(spark, vectors):
    exact = S.brute_force_topk(vectors, vectors.filter("vec_id < 5"), k=3)
    approx = S.ivf_topk(vectors, vectors.filter("vec_id < 5"), k=3, ncells=4, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) > 0
    assert len(e & a) / len(e) >= 0.4  # 2/4 cells probed on clustered data


def test_chunk_text_overlap_and_edges(spark):
    d = spark.createDataFrame(
        [(1, "x" * 300), (2, ""), (3, "short")], "doc_id long, text string"
    )
    out = X.chunk_text(d, chunk_chars=100, overlap=20)
    rows = out.filter("doc_id = 1").orderBy("chunk_idx").collect()
    assert [r["chunk_start"] for r in rows] == [0, 80, 160, 240]
    assert len(rows[0]["chunk_text"]) == 100
    assert len(rows[-1]["chunk_text"]) == 60  # tail chunk
    # empty docs keep one empty chunk, short docs one full chunk
    assert out.filter("doc_id = 2").collect()[0]["chunk_text"] == ""
    assert out.filter("doc_id = 3").collect()[0]["chunk_text"] == "short"
    with pytest.raises(ValueError):
        X.chunk_text(d, chunk_chars=50, overlap=50)


def test_repetition_ratio_signal(spark):
    d = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all words differ here now"), (3, "one"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rep_ratio"] for r in X.repetition_ratio(d).collect()}
    assert got[1] == 0.6  # 'a b' x3 of 5 bigrams
    assert got[2] == 0.25  # 4 distinct bigrams
    assert got[3] == 0.0 and got[4] == 0.0  # < n tokens -> 0, no crash


def test_word_shingles_short_doc_no_crash(spark):
    d = spark.createDataFrame([("one",), ("",)], "text string")
    rows = d.select(X.word_shingles("text", 3).alias("s")).collect()
    assert [r["s"] for r in rows] == [[], []]


def test_rp_lsh_bucket_null_embedding(spark):
    """A NULL (or wrong-dim) embedding buckets to 0 instead of killing
    the job — one dirty row must not abort a 100 TB dedup run."""
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None), (3, [1.0] * 3)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", S.rp_lsh_bucket(F.col("embedding"), dim=8, planes=2).alias("b")
        ).collect()
    }
    assert rows[2] == 0 and rows[3] == 0
    assert 0 <= rows[1] < 4


def test_ngram_contamination(spark):
    """Hand-computable: eval doc A shares all its 3-grams with train,
    B shares none, C shares some."""
    train = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x y z w")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (10, "a b c d"),       # 3-grams {a b c, b c d} — both in train
            (11, "p q r s"),       # none in train
            (12, "a b c q r s"),   # {a b c, b c q, c q r, q r s} — 1 of 4
            (13, "a b"),           # too short: no 3-grams, absent from output
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["contamination"])
        for r in D.ngram_contamination(train, ev, n=3).collect()
    }
    assert out[10] == (2, 2, 1.0)
    assert out[11] == (2, 0, 0.0)
    assert out[12] == (4, 1, 0.25)
    assert 13 not in out


def test_redact_pii_classes(spark):
    df = spark.createDataFrame(
        [
            (0, "mail bob@example.com and 10.0.0.1 plus 123-45-6789 call 555-867-5309"),
            (1, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", X.redact("text", rules=X.PII_RULES).alias("red")
        ).collect()
    }
    assert out[0] == "mail [PII] and [PII] plus [PII] call [PII]"
    assert out[1] == "nothing sensitive here"


def test_redact_terms_whole_word_only(spark):
    df = spark.createDataFrame([(0, "hash hashing rehash hash")], "doc_id long, text string")
    red = df.select(X.redact("text", terms=["hash"], replacement="X").alias("r")).collect()[0]["r"]
    assert red == "X hashing rehash X"  # substrings untouched
    n = df.select(X.match_count("text", X.term_pattern(["hash"])).alias("n")).collect()[0]["n"]
    assert n == 2


def test_pack_sequences_greedy_and_oversize(spark):
    from knime_core_columnar_spark.operators.packing import pack_sequences

    # single stream -> deterministic id-order packing we can hand-compute
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([40, 50, 20, 300, 60, 90])],
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(df, "doc_id", "n_tokens", capacity=100, n_streams=1)
    packs = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    # 40+50 = 90 <= 100; +20 would be 110 -> new pack; 300 oversize alone;
    # 60+90 = 150 > 100 -> 60 joins 20's pack? no: 20+300 > 100 so packs are
    # [40,50], [20], [300], [60], [90]? walk: acc=40; +50=90 ok; +20=110 new
    # (acc=20); +300=320 new (acc=300, oversize pack); +60 new (300+60>100,
    # acc=60); +90=150>100 new (acc=90).
    assert packs == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # every pack except oversize ones fits the budget
    sums = (
        out.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    )
    for r in sums:
        assert r["s"] <= 100 or r["s"] == 300


def test_seeded_shuffle_stable_and_complete(spark):
    from knime_core_columnar_spark.operators.sampling import seeded_shuffle

    df = spark.range(0, 97).withColumnRenamed("id", "doc_id").repartition(7)
    a = seeded_shuffle(df, ["doc_id"], seed="e1")
    rows = a.collect()
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(97))
    m1 = {r["doc_id"]: r["shuffle_pos"] for r in rows}
    m2 = {
        r["doc_id"]: r["shuffle_pos"]
        for r in seeded_shuffle(df.repartition(3), ["doc_id"], seed="e1").collect()
    }
    assert m1 == m2  # partitioning-independent
    m3 = {
        r["doc_id"]: r["shuffle_pos"]
        for r in seeded_shuffle(df, ["doc_id"], seed="e2").collect()
    }
    assert m3 != m1  # new epoch -> new permutation


def test_boilerplate_ngrams_threshold(spark):
    # 'all rights reserved' appears in 3 of 4 docs (75%); each doc also
    # has unique trigrams. With min_doc_pct=50 only the shared one flags.
    rows = [
        (0, "all rights reserved alpha beta gamma"),
        (1, "all rights reserved delta epsilon zeta"),
        (2, "all rights reserved eta theta iota"),
        (3, "kappa lam mu nu xi omicron"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.boilerplate_ngrams(df, "doc_id", "text", n=3, min_doc_pct=50).collect()
    }
    # docs 0-2: 4 distinct trigrams each, exactly 1 boilerplate
    for d in (0, 1, 2):
        assert out[d]["n_ngrams"] == 4 and out[d]["n_boilerplate"] == 1
        assert out[d]["boilerplate_ratio"] == pytest.approx(0.25)
    assert out[3]["n_boilerplate"] == 0


def test_segment_dedup_removes_mirror(spark):
    base = " ".join(f"w{i}" for i in range(30))  # 30 words -> 2 FULL chunks
    rows = [(0, base), (1, base), (2, "unique words only here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.segment_dedup(df, words_per_chunk=15).collect()
    }
    assert out[0]["n_chunks"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["dedup_text"] == base  # reassembly is byte-faithful
    assert out[1]["n_kept"] == 0 and out[1]["dedup_text"] == ""
    assert out[2]["n_kept"] == 1


def test_segment_dedup_partial_overlap(spark):
    # doc 1 shares only its FIRST 15-word chunk with doc 0
    c0 = " ".join(f"a{i}" for i in range(15))
    c1 = " ".join(f"b{i}" for i in range(15))
    c2 = " ".join(f"c{i}" for i in range(15))
    df = spark.createDataFrame(
        [(0, c0 + " " + c1), (1, c0 + " " + c2)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.segment_dedup(df).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["dedup_text"] == c2  # surviving chunk keeps its order


def test_unigram_logprob_orders_quality(spark):
    common = [(i, "the common words appear here") for i in range(8)]
    rare = [(100, "zzyzx qwfp vexing")]
    df = spark.createDataFrame(common + rare, "doc_id long, text string")
    out = {r["doc_id"]: r for r in X.unigram_logprob(df).collect()}
    # every token of doc 100 is rare -> far lower mean logprob
    assert out[100]["avg_logprob"] < out[0]["avg_logprob"]
    assert out[100]["n_rare"] == 3
    assert out[0]["n_words"] == 5


def test_mixture_report_counts(spark):
    from knime_core_columnar_spark.operators.sampling import (
        mixture_report,
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "zh", i % 7 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    rep = {
        r["lang"]: r
        for r in mixture_report(
            df, ["doc_id"], "lang", {"en": 0.5}, weight_col=F.col("w"),
        ).collect()
    }
    assert rep["en"]["n_total"] == 100 and rep["zh"]["n_kept"] == 0
    assert 20 <= rep["en"]["n_kept"] <= 80  # hash split is ~fair
    # the report previews exactly what stratified_sample keeps AT
    # DEFAULT ARGUMENTS (shared keep expression + shared default salt)
    kept = stratified_sample(df, ["doc_id"], "lang", {"en": 0.5})
    agg = kept.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in agg} == {"en": rep["en"]["n_kept"]}
    assert rep["en"]["w_kept"] <= rep["en"]["w_total"]


def test_segment_dedup_null_and_empty_text_preserved(spark):
    df = spark.createDataFrame(
        [(0, "real words here"), (1, None), (2, ""), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.segment_dedup(df).collect()}
    assert set(out) == {0, 1, 2, 3}  # no doc vanishes from the rewrite
    # NULL and '' are one empty segment; the corpus-first empty doc wins
    assert out[1]["n_kept"] == 1 and out[1]["dedup_text"] == ""
    assert out[2]["n_kept"] == 0 and out[3]["n_kept"] == 0


def test_kmeans_lite_clusters(spark, vectors):
    from knime_core_columnar_spark.operators.clustering import kmeans_lite

    out = kmeans_lite(vectors, k=4, iters=2).collect()
    assert 1 <= len(out) <= 4
    assert sum(r["n_members"] for r in out) == 50  # every vector assigned
    assert all(r["centroid_norm"] > 0 for r in out)
    # determinism: a rerun yields the identical clustering
    again = kmeans_lite(vectors, k=4, iters=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_decode_audio_features(spark, docs):
    d = M.attach_binary_payload(docs, "text")
    out = {r["doc_id"]: r for r in M.decode_audio_features(d).collect()}
    assert len(out) == 5
    r0 = out[0]
    n = len("the quick brown fox jumps over the lazy dog".encode())
    assert r0["n_samples"] == n // 2
    assert abs(r0["duration_s"] - (n // 2) / 16000) < 1e-6
    assert 0 < r0["mean_amp"] < 256 and 0 < r0["peak_amp"] < 256


def test_decode_audio_features_empty_payload_is_null(spark):
    """Empty payload → NULL amplitude stats, matching the SQL oracle
    (SUM/MAX over zero rows is NULL, NULL/0 is NULL — not 0)."""
    d = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"ab")], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r for r in M.decode_audio_features(d).collect()}
    for i in (1, 2):
        assert out[i]["n_samples"] == 0 and out[i]["duration_s"] == 0.0
        assert out[i]["mean_amp"] is None and out[i]["peak_amp"] is None
    assert out[3]["n_samples"] == 1 and out[3]["peak_amp"] == ord("b")


def test_duplicate_spans_detects_copied_passage(spark):
    from knime_core_columnar_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one two three four five six"),
            # same passage at a DIFFERENT word offset: content-defined
            # anchors must still line up
            (2, "totally different head words here " + shared),
            (3, " ".join(f"solo{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(docs, window_words=8, anchor_stride=4).collect()
    }
    assert out[1]["n_dup_spans"] > 0 and out[2]["n_dup_spans"] > 0
    assert out[3]["n_dup_spans"] == 0
    for r in out.values():
        assert 0.0 <= r["dup_ratio"] <= 1.0
        assert r["n_spans"] >= 1


def test_duplicate_spans_short_and_empty_docs(spark):
    from knime_core_columnar_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, ""), (4, None), (5, "lonely-short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_spans(docs).collect()}
    # empty/NULL docs yield no tokens → no anchors → absent (shingle
    # contract; the old forced anchor made all empty docs mutual dups)
    assert set(out) == {1, 2, 5}
    assert out[1]["n_dup_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[5]["n_dup_spans"] == 0


def test_duplicate_spans_partition_invariant(spark, sf_dir):
    from knime_core_columnar_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, duplicate_spans(docs).collect()))
    b = sorted(map(tuple, duplicate_spans(docs.repartition(13)).collect()))
    assert a == b


def test_rrf_hybrid_topk_fuses_known_lists(spark):
    from knime_core_columnar_spark.operators.similarity import rrf_hybrid_topk

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),          # the query doc
            (1, "alpha beta gamma zeta"),           # strong lexical
            (2, "unrelated words entirely here"),   # vector-only
            (3, "alpha misc misc misc"),            # weak lexical
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.0, 1.0]),       # doc1 orthogonal
            (2, [0.9, 0.1]), (3, [0.5, 0.5]),       # doc2 closest to query
        ],
        "vec_id long, embedding array<float>",
    )
    out = rrf_hybrid_topk(docs, emb, [0], k=4, n_per_system=3).collect()
    rows = {r["doc_id"]: r for r in out}
    # lexical list: doc0 (4 overlap), doc1 (3), doc3 (1) — doc2 absent
    assert rows[0]["lex_rank"] == 1 and rows[1]["lex_rank"] == 2
    assert rows[3]["lex_rank"] == 3 and rows[2]["lex_rank"] is None
    # vector list excludes the query itself: doc2, doc3, doc1
    assert rows[2]["vec_rank"] == 1 and rows[3]["vec_rank"] == 2
    assert rows[1]["vec_rank"] == 3 and rows[0]["vec_rank"] is None
    # integer RRF: scale div (60+rank) summed over present lists
    assert rows[3]["rrf_scaled"] == 1_000_000 // 63 + 1_000_000 // 62
    assert rows[0]["rrf_scaled"] == 1_000_000 // 61
    # doc1 (lex 2 + vec 3) and doc3 (lex 3 + vec 2) tie exactly under
    # RRF's rank symmetry; the id tiebreak puts doc1 first
    assert rows[1]["rrf_scaled"] == rows[3]["rrf_scaled"]
    assert rows[1]["fused_rank"] == 1 and rows[3]["fused_rank"] == 2


def test_rrf_hybrid_topk_on_corpus_invariants(spark, sf_dir):
    from knime_core_columnar_spark.operators.similarity import rrf_hybrid_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [3, 47]
    out = rrf_hybrid_topk(docs, emb, qids, k=10, n_per_system=25).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(qids)
    for q, rs in by_q.items():
        assert [r["fused_rank"] for r in sorted(rs, key=lambda r: r["fused_rank"])] == list(
            range(1, len(rs) + 1)
        )
        # the query doc itself appears in its own lexical list (its
        # overlap is maximal; the synthetic shared vocabulary means
        # rank 1 may go to a lower-id doc tied at full overlap)
        self_row = [r for r in rs if r["doc_id"] == q]
        assert self_row and self_row[0]["lex_rank"] is not None
    # partitioning cannot change the fused lists
    out2 = rrf_hybrid_topk(
        docs.repartition(13), emb.repartition(7), qids, k=10, n_per_system=25
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_embedding_drift_detects_shifted_group(spark):
    from knime_core_columnar_spark.operators.similarity import embedding_drift

    # groups a,b share a direction; group c is orthogonal
    rows = (
        [("a", [1.0, 0.0, 0.1]) for _ in range(10)]
        + [("b", [0.9, 0.0, 0.2]) for _ in range(10)]
        + [("c", [0.0, 1.0, 0.0]) for _ in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, embedding array<float>")
    out = {r["g"]: r for r in embedding_drift(df, "g").collect()}
    assert all(r["n_vecs"] == 10 for r in out.values())
    # a and b hug the overall centroid; c is the outlier (the shared-
    # direction groups still score well clear of the orthogonal one)
    assert out["a"]["cos_to_reference"] > 0.85
    assert out["b"]["cos_to_reference"] > 0.85
    assert out["c"]["cos_to_reference"] < 0.6
    # explicit reference pins the axis exactly
    ref = embedding_drift(df, "g", reference=[1.0, 0.0, 0.0])
    vals = {r["g"]: r["cos_to_reference"] for r in ref.collect()}
    assert vals["c"] == 0.0 and vals["a"] > 0.99
    # partition invariance (integer centroid sums)
    a = sorted(map(tuple, embedding_drift(df, "g", reference=[1.0, 0.0, 0.0]).collect()))
    b = sorted(map(tuple, embedding_drift(df.repartition(7), "g",
                                          reference=[1.0, 0.0, 0.0]).collect()))
    assert a == b


def test_embedding_drift_on_labels(spark, sf_dir):
    from knime_core_columnar_spark.operators.similarity import embedding_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_drift(emb, "label").collect()
    assert len(out) == emb.select("label").distinct().count()
    assert all(-1.0 <= r["cos_to_reference"] <= 1.0 for r in out)
    assert sum(r["n_vecs"] for r in out) == emb.count()


def test_gopher_rules_each_rule_fires(spark):
    docs = spark.createDataFrame(
        [
            # clean: 6 words incl. 2 stopwords, mean wl in [3,10]
            (1, "the quick brown foxes jump with energy today"),
            (2, "hi"),                                   # too_few_words
            (3, "aa " * 30 + "the of"),                  # mean_word_len_low
            (4, "extraordinarily " * 6 + "the of"),      # mean_word_len_high
            (5, "### #tag ... the cat sat on it"),       # symbol_ratio_high
            (6, "1 2 3 4 5 6 the of"),                   # alpha_ratio_low
            (7, "quick brown foxes jump over lazy dogs"),  # too_few_stopwords
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in X.gopher_rules(
            docs, min_words=5, max_words=50, min_stopwords=2
        ).collect()
    }
    assert out[1]["keep"] and out[1]["fail_reasons"] == ""
    assert out[2]["fail_reasons"].split(",") == [
        "too_few_words", "mean_word_len_low", "too_few_stopwords"
    ]
    assert "mean_word_len_low" in out[3]["fail_reasons"]
    assert "mean_word_len_high" in out[4]["fail_reasons"]
    assert "symbol_ratio_high" in out[5]["fail_reasons"]
    assert "alpha_ratio_low" in out[6]["fail_reasons"]
    assert out[7]["fail_reasons"] == "too_few_stopwords"
    assert out[1]["n_stopwords"] == 2 and out[2]["n_words"] == 1
    # word-count bound: max_words fires too
    big = spark.createDataFrame([(8, "the of " + "word " * 60)], ["doc_id", "text"])
    row = X.gopher_rules(big, min_words=5, max_words=50).collect()[0]
    assert "too_many_words" in row["fail_reasons"] and not row["keep"]


def test_gopher_rules_counts_typographic_ellipsis(spark):
    """The symbol rule counts BOTH '...' and the typographic U+2026
    form (round-5 ADVICE: '…' words were undercounted)."""
    docs = spark.createDataFrame(
        [(1, "well… maybe… the cat sat on it"),
         (2, "well... maybe... the cat sat on it")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r
           for r in X.gopher_rules(docs, min_words=5, max_words=50,
                                   min_stopwords=1).collect()}
    # both forms count 2 symbol words out of 7
    assert out[1]["symbol_ratio"] == out[2]["symbol_ratio"] == 0.285714
    assert "symbol_ratio_high" in out[1]["fail_reasons"]


def test_gopher_rules_no_exchange_plan(spark):
    docs = spark.createDataFrame([(1, "the of a b c")], ["doc_id", "text"])
    plan = X.gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_line_filter_rules(spark):
    doc = "\n".join(
        [
            "This line has enough words to survive.",   # kept
            "Too short.",                               # < 5 words
            "this line mentions javascript so it dies.",  # blocklist
            "a line with braces { inside } is dropped.",  # blocklist
            "no terminal punctuation on this line",      # punct rule
            "  Another good line padded with spaces stays here.  ",  # kept (trimmed)
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, doc),
            (2, "Lorem Ipsum dolor sit amet here today.\nAnother fine sentence with many words."),
            (3, "One good line that is long enough here.\n"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in X.c4_line_filter(docs, min_kept_lines=2).collect()}
    assert out[1]["n_lines"] == 6 and out[1]["n_kept_lines"] == 2
    assert out[1]["keep"]
    assert out[1]["clean_text"].split("\n") == [
        "This line has enough words to survive.",
        "Another good line padded with spaces stays here.",
    ]
    # doc-level blocklist kills doc 2 even though 2 lines survive
    assert out[2]["n_kept_lines"] == 2 and not out[2]["keep"]
    # only 1 surviving line < min_kept_lines
    assert out[3]["n_kept_lines"] == 1 and not out[3]["keep"]


def test_c4_line_filter_optional_punct(spark):
    docs = spark.createDataFrame(
        [(1, "five words but no punctuation here\nanother five word line here too")],
        ["doc_id", "text"],
    )
    strict = X.c4_line_filter(docs, min_kept_lines=1).collect()[0]
    lax = X.c4_line_filter(
        docs, min_kept_lines=1, require_terminal_punct=False
    ).collect()[0]
    assert strict["n_kept_lines"] == 0 and not strict["keep"]
    assert lax["n_kept_lines"] == 2 and lax["keep"]


def test_exact_dedup_null_text_keeps_one_survivor(spark):
    """Round-10 review: NULL-text rows form ONE dedup group with a
    min-RowID survivor (the Window this election replaced, and the SQL
    oracle's PARTITION BY, both group NULLs) — they must not vanish
    through the null-rejecting equi-join."""
    from knime_core_columnar_spark.operators.dedup import exact_dedup
    from knime_core_columnar_spark.table import ColumnarTable

    df = spark.createDataFrame(
        [("r1", None), ("r2", None), ("r3", "hello")],
        "_row_key string, text string")
    out = exact_dedup(ColumnarTable(df), "text")
    assert sorted(r["_row_key"] for r in out.df.collect()) == ["r1", "r3"]


def test_neardup_keep_longest_policy(spark):
    """keep-longest canonicalization: within a verified near-dup
    cluster, the member with the most tokens wins; ties go to the
    smallest doc_id; singletons keep themselves."""
    from knime_core_columnar_spark import catalog  # noqa: F401 (registry)
    from knime_core_columnar_spark.catalog.dedup import (
        _neardup_keep_longest,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away tonight")
    rows = [
        (1, base),                      # near-dups of each other
        (2, base + " extra tokens appended here"),   # longest -> canonical
        (3, base + " extra tokens appended here"),   # tie with 2 -> 2 wins
        (9, "completely different text about spark engines"),  # singleton
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import knime_core_columnar_spark.catalog._registry as reg

    orig = reg._t
    try:
        reg._t = lambda s, sf, name: df
        import knime_core_columnar_spark.catalog.dedup as r10
        r10._t = reg._t
        out = {r["doc_id"]: r for r in
               _neardup_keep_longest(spark, "unused").collect()}
    finally:
        reg._t = orig
        import knime_core_columnar_spark.catalog.dedup as r10
        r10._t = orig
    assert out[1]["component"] == out[2]["component"] == out[3]["component"]
    assert not out[1]["keep"]
    assert out[2]["keep"] and not out[3]["keep"]  # tie -> min doc_id
    assert out[9]["keep"] and out[9]["component"] == 9

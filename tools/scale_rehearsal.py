#!/usr/bin/env python3
"""Scale rehearsal for the heavy operator family (SCALE.md evidence).

Synthesizes R× replicas of the sf0.1 documents/embeddings tables with
per-replica DECORRELATION (not verbatim copies) so the workload shape
stays realistic while the corpus grows:

- documents: replica k reorders each doc's words by md5(word, k). Docs
  that were near-duplicates INSIDE a replica stay near-duplicates
  (common words sort identically, shingles align), but the same doc
  across two replicas shares almost no shingles — so near-dup DENSITY
  is constant as the corpus scales. Verbatim copies would instead grow
  every MinHash bucket by R and candidate pairs by ~R² (a workload no
  real corpus has).
- embeddings: replica k adds hash-seeded noise (±0.05/dim) so vectors
  are distinct but the cluster structure (and therefore kmeans/IVF cell
  occupancy) is preserved.

Then times the heavy queries at each scale (n runs, min reported) and
prints a JSON line per scale. Usage:

    python tools/scale_rehearsal.py [outdir] [R ...]   # default 1 10 100
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
HEAVY = ["dedup_minhash_lsh", "neardup_pipeline", "kmeans_clusters",
         "ann_topk_ivf", "unigram_lm_quality", "token_shards",
         # round-4-continued additions (documents/embeddings-based)
         "heavy_hitter_tokens", "duplicate_span_profile",
         "hybrid_search_rrf",
         # round-5: the connected-components family (part-based; the
         # synthesizer emits decorrelated part replicas for these)
         "entity_resolution", "golden_record", "neardup_clusters",
         # token-linear substring dedup + the CC-riding split
         "dup_span_extract", "dup_span_apply", "leakage_safe_split",
         # round-6: the full-corpus mapInPandas tokenizer scan (the
         # heaviest Python-side operator in the registered catalog)
         "bpe_encode",
         # round-6 in-round additions: BM25's tf/df/posting joins, the
         # d²-per-row covariance explode, the bigram PMI table, and the
         # lede-fingerprint provenance matrix
         "bm25_topk", "embedding_covariance", "collocations_pmi",
         "cross_source_duplication",
         # round-6 continued: Heaps'-law audit (count-table shape), the
         # purged temporal split (min/max broadcast + CASE scan), and
         # the perceptual-hash near-dup (per-row byte-slice aHash +
         # banded candidates — the heaviest per-row expression work in
         # the catalog)
         "vocab_growth_stats", "temporal_split_embargo",
         # perceptual near-dup: the rehearsal measures the SCALE tier
         # (16-bit bands + hot-bucket cap; registered below). The
         # catalog query's 4-bit AUDIT tier has only 256 buckets and is
         # deliberately NOT rehearsed at 100x: it went quadratic there
         # (~1e11 candidate pairs, killed) — which is WHY the operator
         # documents two tiers; see multimodal.phash_near_dup_pairs.
         "phash_near_dup_scale",
         # round-7: the DEFAULT path (auto band_bits + finite cap) must
         # also complete at 100x — registered below
         "phash_near_dup_default",
         # round-6 continued (2): two-pass PRF retrieval and the RBO
         # agreement metric ride the shared tf table (bm25's curve);
         # contrastive mining rehearses with planes SIZED TO THE REPLICA
         # (fixed small planes would be quadratic — the operator
         # docstring's sizing rule, registered below)
         "rm3_expanded_search", "retrieval_rbo",
         "contrastive_pairs_scale",
         # round-8 in-round additions: paragraph dedup (linear:
         # posexplode + one hash election window + one id reassembly)
         # and winnowing overlap — the latter rehearses the CAPPED tier
         # (max_df, registered below) for the same Σdf² reason as
         # containment: the tiny-vocabulary synthetic corpus makes hot
         # fingerprints grow with corpus size
         "dedup_paragraphs", "winnow_overlap_capped",
         # round-7 in-round additions: the scan-side HTML extraction
         # (regex cost per byte) and the KN bigram model (count-table
         # materialization + scoring join; bigram vocab grows with the
         # decorrelated replicas)
         "html_extract_main", "kn_bigram_quality",
         # round-9 in-round additions: the training-target generators
         # (Arrow kernel / pure-slice scan shapes), the count-of-counts
         # coverage curve, and the source-table mixture plan
         "span_corruption_masks", "fim_transform",
         "vocab_coverage_curve", "temperature_mixture_plan",
         "language_mix_audit",
         # round-10: the composed training pipeline (gate -> FIM ->
         # recount -> pack -> rollup) — composition under the 100x lens
         "training_pipeline_e2e",
         # round-10 additions: URL hygiene, the packed-sequence writer,
         # keep-longest cluster canonicalization, the gate funnel
         "url_dedup_canonical", "packed_sequences_text",
         "neardup_keep_longest", "curation_funnel",
         # round-11: the incremental funnel (increment-only gating +
         # one fingerprint anti-join against the base index)
         "curation_funnel_delta",
         # round-11: the real PNG codec round-trip (per-row encode+decode)
         "png_pixel_stats"]


def synthesize(spark, out_dir: str, r: int) -> None:
    """Per-table: each table is only written if absent, so adding a new
    table to the rehearsal set does not force re-synthesizing the rest
    in pre-existing replica directories."""
    from pyspark.sql import functions as F

    n_docs, n_vecs = 5000, 2000
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    vecs = spark.read.parquet(f"{BASE}/embeddings.parquet")
    reps = spark.range(r).withColumnRenamed("id", "__k")

    if os.path.exists(f"{out_dir}/documents.parquet"):
        d = None
    else:
        d = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("__k") * n_docs).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.transform(
                            F.split(F.trim("text"), r"\s+"),
                            lambda w: F.struct(
                                F.md5(F.concat(w, F.lit("|"), F.col("__k").cast("string"))).alias("o"),
                                w.alias("w"),
                            ),
                        )
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("text"),
            "lang", "source",
        )
            .withColumn("n_chars", F.length("text"))
        )
    if d is not None:
        d.repartition(max(1, r // 2)).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )

    v = (
        vecs.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("__k") * n_vecs).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: (
                    x
                    + (
                        F.conv(F.substring(F.md5(F.concat_ws(
                            "|", F.col("vec_id").cast("string"),
                            F.col("__k").cast("string"), i.cast("string"))), 1, 4), 16, 10)
                        .cast("double") / 65535.0 - 0.5
                    ).cast("float") * F.lit(0.1)
                ),
            ).alias("embedding"),
            "label",
        )
    )
    if not os.path.exists(f"{out_dir}/embeddings.parquet"):
        v.repartition(max(1, r // 10)).write.mode("overwrite").parquet(
            f"{out_dir}/embeddings.parquet"
        )

    # part: replica k keeps every within-replica name relationship
    # (entity cliques, blocks, edit distances) and makes replicas
    # mutually invisible: the LAST name token (the blocking key) gets a
    # 6-hex suffix derived from (block, k), so two rows of one replica
    # share a block/edit-distance iff their originals did — the suffix
    # is identical within (block, k) and cancels out of the Levenshtein
    # — while cross-replica rows land in disjoint blocks. Duplicate
    # DENSITY therefore stays constant as the corpus grows (the same
    # argument as the documents decorrelation above); the entity graph
    # becomes R disjoint copies, so superstep count is scale-invariant
    # by construction and the rehearsal measures pure volume.
    n_parts = 20_000
    part = spark.read.parquet(f"{BASE}/part.parquet")
    pk = (
        part.crossJoin(reps)
        .select(
            (F.col("p_partkey") + F.col("__k") * n_parts).alias("p_partkey"),
            F.concat(
                F.col("p_name"), F.lit("-"),
                F.substring(
                    F.md5(F.concat(
                        F.element_at(F.split("p_name", " "), -1),
                        F.lit("|"), F.col("__k").cast("string"),
                    )), 1, 6,
                ),
            ).alias("p_name"),
            "p_brand", "p_type", "p_size", "p_retailprice",
        )
    )
    if not os.path.exists(f"{out_dir}/part.parquet"):
        pk.repartition(max(1, r // 4)).write.mode("overwrite").parquet(
            f"{out_dir}/part.parquet"
        )

    # round-5 continued: the staged r9 family reads orders / lineitem /
    # customer / events. Replication rule per table mirrors how a real
    # corpus grows at 100 TB:
    # - orders/lineitem (benford/concentration): keys shift per replica,
    #   value distributions replicate — the audits are single-scan
    #   partial aggregations to a handful of rows, so the realistic
    #   scale-up is "same histogram, R× rows through the scan".
    # - customer (k-anonymity): the quasi-identifier c_mktsegment gets a
    #   per-replica suffix, so GROUP COUNT grows R× while group SIZES
    #   stay constant — the audit's risk profile (and therefore its
    #   output volume and shuffle width) scales the way a growing user
    #   base does, instead of every group trivially passing k.
    # - events (CDC replay): event/user ids shift per replica — disjoint
    #   key spaces, constant per-key changelog depth, so the
    #   window-over-changelog state stays bounded per key as volume
    #   grows (the property the CDC plan is supposed to have).
    def _shifted(tbl: str, key_shifts: dict, extra=None):
        base_df = spark.read.parquet(f"{BASE}/{tbl}.parquet")
        maxes = {
            c: base_df.agg(F.max(c)).collect()[0][0] + 1 for c in key_shifts
        }
        out = base_df.crossJoin(reps)
        for c in key_shifts:
            out = out.withColumn(c, F.col(c) + F.col("__k") * maxes[c])
        if extra is not None:
            out = extra(out)
        return out.drop("__k")

    if not os.path.exists(f"{out_dir}/orders.parquet"):
        _shifted("orders", {"o_orderkey": 1, "o_custkey": 1}).repartition(
            max(1, r // 4)
        ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        _shifted("lineitem", {"l_orderkey": 1}).repartition(
            max(1, r)
        ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    if not os.path.exists(f"{out_dir}/customer.parquet"):
        _shifted(
            "customer", {"c_custkey": 1},
            extra=lambda d: d.withColumn(
                "c_mktsegment",
                F.concat_ws("-", "c_mktsegment", F.col("__k").cast("string")),
            ),
        ).repartition(max(1, r // 10)).write.mode("overwrite").parquet(
            f"{out_dir}/customer.parquet"
        )
    if not os.path.exists(f"{out_dir}/events.parquet"):
        _shifted("events", {"event_id": 1, "user_id": 1}).repartition(
            max(1, r // 2)
        ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def main():
    out_root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    factors = [int(a) for a in sys.argv[2:]] or [1, 10, 100]

    from knime_core_columnar_spark import catalog
    from knime_core_columnar_spark.session import get_spark

    # Rehearsal-only variants live in this dict, looked up before
    # catalog.QUERIES; the catalog itself is only written through
    # _registry.query.
    rehearsal: dict = {}

    # Rehearsal-only entry: containment's SCALE tier (max_df cap). The
    # exact tier's inverted-index self-join is Σdf² — quadratic in any
    # corpus whose hot (boilerplate) shingles grow with corpus size,
    # which the tiny-vocabulary synthetic corpus makes brutal (measured:
    # disk-full shuffle spill at 10×). That is exactly why the operator
    # has the max_df tier; the rehearsal measures it.
    from knime_core_columnar_spark.operators.dedup import containment_pairs

    # Rehearsal-only entry: contrastive mining with corpus-sized planes
    # (the docstring sizing rule: planes ~ log2(n / target_bucket); the
    # x100 replica has 200k vectors -> planes=10 keeps ~200-row buckets)
    from knime_core_columnar_spark.operators.similarity import (
        contrastive_pairs,
    )

    def _contrastive_scale(spark, sf_dir):
        import math as _math

        n = catalog._table_meta(spark, sf_dir, "embeddings").rows
        planes = max(4, int(_math.ceil(_math.log2(max(n, 1) / 256.0))))
        return contrastive_pairs(
            catalog._t(spark, sf_dir, "embeddings"), dim=64,
            pos_threshold=0.9, neg_low=0.0, neg_high=0.5, planes=planes,
        )

    rehearsal["contrastive_pairs_scale"] = _contrastive_scale

    # Rehearsal-only entry: the perceptual-hash SCALE tier (4 bands of
    # 16 bits, pigeonhole guarantee <= 3 bits, degenerate buckets capped
    # like containment's max_df). The registered catalog query keeps the
    # 4-bit audit tier for the small gate corpus.
    from knime_core_columnar_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup_pairs,
    )
    from pyspark.sql import functions as _F

    rehearsal["phash_near_dup_scale"] = (
        lambda spark, sf_dir: phash_near_dup_pairs(
            attach_binary_payload(
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter(_F.col("text").isNotNull())
            ),
            max_hamming=3, band_bits=16, max_bucket=256,
        )
    )

    # Rehearsal-only entry (round 7): the DEFAULT path — band_bits
    # auto-tiered from the corpus size, max_bucket at its finite default.
    # At the x100 replica (500k docs) the auto-tier picks 8-bit bands
    # and the cap bounds candidates to ~1.9e8 (uncapped: 6.9e9) — the
    # point of the round-7 default change is that taking the defaults
    # COMPLETES here instead of going quadratic like the old uncapped
    # 4-bit audit default.
    rehearsal["phash_near_dup_default"] = (
        lambda spark, sf_dir: phash_near_dup_pairs(
            attach_binary_payload(
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter(_F.col("text").isNotNull())
            ),
        )
    )

    # Rehearsal-only entry (round 8): winnowing's SCALE tier — max_df
    # culls hot (boilerplate) fingerprints before the inverted-index
    # join, bounding pair volume at Σ min(df, 64)² instead of Σdf².
    # The registered winnow_overlap keeps max_df=None (its oracle's
    # exactness contract) for the small gate corpus.
    from knime_core_columnar_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    rehearsal["winnow_overlap_capped"] = (
        lambda spark, sf_dir: winnow_overlap_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            "doc_id", "text", k=5, w=4, min_shared=2, max_df=64,
        )
    )

    rehearsal["containment_quotes_capped"] = (
        lambda spark, sf_dir: containment_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            "doc_id", "text", shingle_n=3, threshold_num=4,
            threshold_den=5, max_df=64,
        )
    )

    spark = get_spark(app_name="scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    for r in factors:
        sf_dir = BASE if r == 1 else f"{out_root}/x{r}"
        need = any(
            not os.path.exists(f"{sf_dir}/{t}.parquet")
            for t in ("documents", "embeddings", "part", "orders",
                      "lineitem", "customer", "events")
        )
        if r != 1 and need:
            t0 = time.perf_counter()
            synthesize(spark, sf_dir, r)
            print(f"# synthesized x{r} in {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)
        timings = {}
        names = (os.environ.get("SPARK_GRAFT_REHEARSAL_QUERIES", "").split(",")
                 if os.environ.get("SPARK_GRAFT_REHEARSAL_QUERIES") else HEAVY)
        for name in names:
            build = rehearsal.get(name) or catalog.QUERIES.get(name)
            if build is None:
                # a typo in SPARK_GRAFT_REHEARSAL_QUERIES — say so loudly
                # instead of silently truncating the report
                print(f"# SKIPPED {name}: unknown query", file=sys.stderr)
                continue
            best = None
            for _ in range(2):
                # checksum action, not count(): count() lets Catalyst
                # prune computed columns on row-level queries — ONE
                # definition, shared with bench.py, so the two tools
                # can never measure different things
                from bench import _force

                out = build(spark, sf_dir)
                t0 = time.perf_counter()
                _force(out)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        print(json.dumps({"scale_x": r, "sf_dir": sf_dir, "queries": timings}))


if __name__ == "__main__":
    main()

"""Deterministic sampling/splitting: stability under repartitioning is
the whole point — assert it explicitly."""

import pytest

from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
    stratified_sample,
)


@pytest.fixture(scope="module")
def rows(spark):
    return spark.range(0, 2000).withColumn("k", F.col("id").cast("string"))


def test_split_disjoint_exhaustive_and_sized(rows):
    out = hash_split(rows, ["k"])
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert 0.75 < counts["train"] / 2000 < 0.85
    assert 0.07 < counts["val"] / 2000 < 0.13
    assert 0.07 < counts["test"] / 2000 < 0.13


def test_split_stable_under_repartition(rows):
    a = {r["k"]: r["split"] for r in hash_split(rows, ["k"]).collect()}
    b = {
        r["k"]: r["split"]
        for r in hash_split(rows.repartition(13, "k"), ["k"]).collect()
    }
    assert a == b


def test_sample_is_subset_and_stable(rows):
    s1 = {r["k"] for r in deterministic_sample(rows, ["k"], 0.25).collect()}
    s2 = {r["k"] for r in deterministic_sample(rows.repartition(7), ["k"], 0.25).collect()}
    assert s1 == s2
    assert 0.2 < len(s1) / 2000 < 0.3
    # growing the fraction only ADDS rows (nested samples)
    s3 = {r["k"] for r in deterministic_sample(rows, ["k"], 0.5).collect()}
    assert s1 <= s3


def test_split_fractions_validated(rows):
    with pytest.raises(ValueError):
        hash_split(rows, ["k"], {"a": 0.5, "b": 0.1})


def test_stratified_sample_per_stratum(rows):
    strat = rows.withColumn(
        "cls", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    out = stratified_sample(strat, ["k"], "cls", {"even": 0.5, "odd": 0.1})
    counts = {r["cls"]: r["n"] for r in out.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.4 < counts["even"] / 1000 < 0.6
    assert 0.05 < counts["odd"] / 1000 < 0.15
    # stable under repartitioning
    again = stratified_sample(strat.repartition(7), ["k"], "cls", {"even": 0.5, "odd": 0.1})
    assert {r["k"] for r in out.collect()} == {r["k"] for r in again.collect()}
    # unlisted strata keep default_fraction (0 by default)
    none_kept = stratified_sample(strat, ["k"], "cls", {"even": 0.5})
    assert none_kept.filter("cls = 'odd'").count() == 0


def test_stratified_sample_null_stratum(spark, rows):
    strat = rows.withColumn(
        "cls", F.when(F.col("id") % 2 == 0, "even").otherwise(None)
    )
    out = stratified_sample(strat, ["k"], "cls", {"even": 0.5}, default_fraction=1.0)
    # every NULL-stratum row takes the default branch (fraction 1.0)
    assert out.filter("cls IS NULL").count() == 1000
    none_kept = stratified_sample(strat, ["k"], "cls", {"even": 0.5})
    assert none_kept.filter("cls IS NULL").count() == 0


def test_weighted_sample_prefers_heavy_rows(spark):
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.sampling import weighted_sample_topk

    # 100 light rows (w=1) + 100 heavy rows (w=100): heavy dominate top-20
    rows = [(i, 1.0) for i in range(100)] + [(i, 100.0) for i in range(100, 200)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = weighted_sample_topk(df, ["id"], F.col("w"), k=20).collect()
    heavy = sum(1 for r in out if r["id"] >= 100)
    assert heavy >= 15  # inclusion prob ∝ weight
    # deterministic across reruns
    again = weighted_sample_topk(df, ["id"], F.col("w"), k=20).collect()
    assert [r["id"] for r in out] == [r["id"] for r in again]


def test_build_vocab_ids_frequency_ranked(spark):
    from knime_core_columnar_spark.operators.text import build_vocab

    df = spark.createDataFrame(
        [(0, "a a a a a b b b c c c c")], "doc_id long, text string"
    )
    out = {r["token"]: r for r in build_vocab(df, min_count=2).collect()}
    assert out["a"]["token_id"] == 0 and out["a"]["count"] == 5
    assert out["c"]["token_id"] == 1 and out["b"]["token_id"] == 2


def test_distributed_cumsum_matches_single_window(spark):
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.sampling import distributed_cumsum

    rows = [(i, (i * 7) % 13 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long").repartition(8)
    out = distributed_cumsum(
        df, [F.col("id")], F.col("w"), "cs", exclusive=True
    ).collect()
    got = {r["id"]: r["cs"] for r in out}
    expect, acc = {}, 0
    for i, w in rows:
        expect[i] = acc
        acc += w
    assert got == expect  # exact two-phase prefix sums at 8 partitions


def test_distributed_cumsum_offsets_stable_without_exchange_reuse(spark):
    """The offsets pass and the numbering pass must see the SAME
    partitioning even when Catalyst exchange reuse is disabled — the
    checkpoint inside distributed_cumsum guarantees it. The
    invariant max(inclusive cumsum) == total would break loudly if the
    two passes ever desynchronized."""
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.sampling import distributed_cumsum

    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        rows = [(i, (i * 31) % 17 + 1) for i in range(2000)]
        df = spark.createDataFrame(rows, "id long, w long").repartition(32)
        out = distributed_cumsum(df, [F.col("id")], F.col("w"), "cs")
        total = sum(w for _, w in rows)
        stats = out.agg(
            F.max("cs").alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        assert stats["mx"] == total and stats["n"] == len(rows)
        got = {r["id"]: r["cs"] for r in out.collect()}
        acc = 0
        for i, w in rows:
            acc += w
            assert got[i] == acc
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


# ---------------------------------------------------------------------------
# HLL sketch maintenance
# ---------------------------------------------------------------------------

def test_hll_shard_sketches_accuracy_and_merge(spark, sf_dir):
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.sampling import (
        hll_merge_estimate,
        hll_shard_sketches,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    shards = hll_shard_sketches(ev, "user_id", "event_type")
    rows = {r["event_type"]: r for r in shards.collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for t, r in rows.items():
        # lg_k=12 → relative standard error ~1.6%; allow 5%
        assert abs(r["estimate"] - exact[t]) <= max(3, 0.05 * exact[t])

    merged = hll_merge_estimate(shards).collect()[0]["estimate"]
    exact_total = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    assert abs(merged - exact_total) <= max(3, 0.05 * exact_total)

    # merge associativity: unioning shard subsets then the partials must
    # equal unioning everything at once
    a = shards.limit(2)
    b = shards.subtract(a)
    from pyspark.sql import functions as FF

    pa = a.agg(FF.hll_union_agg(FF.col("sketch"), FF.lit(False)).alias("sketch"))
    pb = b.agg(FF.hll_union_agg(FF.col("sketch"), FF.lit(False)).alias("sketch"))
    two_level = hll_merge_estimate(pa.unionByName(pb)).collect()[0]["estimate"]
    assert two_level == merged


def test_grouped_kfold_no_leakage_and_stability(spark):
    from knime_core_columnar_spark.operators.sampling import (
        grouped_kfold,
        kfold_audit,
    )

    rows = [(u, e) for u in range(200) for e in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event long")
    folded = grouped_kfold(df, ["user_id"], k=5)
    audit = {r["fold"]: r for r in kfold_audit(folded, ["user_id"]).collect()}
    assert set(audit) <= set(range(5)) and len(audit) == 5
    assert all(r["n_leaked_groups"] == 0 for r in audit.values())
    assert sum(r["n_rows"] for r in audit.values()) == 1000
    assert sum(r["n_groups"] for r in audit.values()) == 200
    # deterministic + partitioning-independent
    a = sorted(map(tuple, folded.collect()))
    b = sorted(map(tuple, grouped_kfold(df.repartition(13), ["user_id"], k=5).collect()))
    assert a == b
    # audit flags a genuinely leaky assignment
    leaky = df.withColumn("fold", (F.col("event") % 5).cast("int"))
    bad = kfold_audit(leaky, ["user_id"]).collect()
    assert sum(r["n_leaked_groups"] for r in bad) > 0

"""Round-12 optimization pins: the BSP loops run ONE driver action per
superstep (lazy checkpoints materialized by the convergence probe /
the consumer's action) instead of dedicated eager-checkpoint jobs, and
the triangle and tree builders' checkpoints schedule no job of their
own.

The job-count bounds below sit between the measured totals of the old
(eager) and new (lazy) implementations on fixed toy graphs with this
repo's pinned Spark version and session config, so a regression back to
eager checkpointing — or any new per-round driver action — trips them
while AQE's normal stage-job accounting does not.
"""

from __future__ import annotations

import uuid

import pytest


def _run_in_group(spark, build_and_collect):
    sc = spark.sparkContext
    group = f"r12-jobcount-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "r12 job-count pin")
    try:
        result = build_and_collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return result, jobs


def test_connected_components_one_action_per_superstep(spark):
    """A 16-node chain (diameter forces pointer doubling) must converge
    correctly AND schedule at most 52 jobs end to end: the eager
    implementation measured 56 (ckpt job + probe count + eager hop per
    round), the lazy one 48 (the probe count is the only per-round
    action; the hop rides the next round's probe)."""
    from knime_core_columnar_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )

    def go():
        out = connected_components(edges, "id_a", "id_b")
        return out.collect()

    rows, jobs = _run_in_group(spark, go)
    assert {r["node"] for r in rows} == set(range(17))
    assert all(r["label"] == 0 for r in rows)
    assert jobs <= 52, f"CC scheduled {jobs} jobs (eager regression?)"


def test_pagerank_prologue_checkpoints_are_lazy(spark):
    """pagerank_scaled's sym/outdeg/nodes/adj checkpoints must not each
    schedule a dedicated materialization job: measured 26 total jobs
    eager, 23 lazy on this toy graph — pin strictly under the eager
    count. Ranks must stay bit-identical (int64 recurrence)."""
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    edges = spark.createDataFrame(
        [(i, (i * 7) % 101) for i in range(400)], "src long, dst long"
    )

    def go():
        return pagerank_scaled(edges, iterations=3).collect()

    rows, jobs = _run_in_group(spark, go)
    # node set = all endpoints: src 0..399 ∪ dst 0..100 = 400 nodes
    assert len(rows) == 400
    assert sum(r["rank"] for r in rows) > 0
    assert jobs <= 24, f"pagerank scheduled {jobs} jobs (eager regression?)"


def test_pagerank_symmetric_lazy_matches_eager_semantics(spark):
    """The lazy-checkpoint prologue must not change ranks: replay the
    r11 symmetric-flag identity on a graph with an isolated self-loop
    node (the edge case the flag's node derivation must keep)."""
    from knime_core_columnar_spark.operators.graph import pagerank_scaled

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2), (7, 7)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = {
        r["node"]: r["rank"]
        for r in pagerank_scaled(edges, iterations=3, symmetric=True).collect()
    }
    gen = {
        r["node"]: r["rank"]
        for r in pagerank_scaled(edges, iterations=3).collect()
    }
    assert sym == gen and 7 in sym


def test_triangle_counts_checkpoints_are_lazy(spark):
    """triangle_counts pins its edge set and its oriented edges through
    ``session.checkpoint``, which is lazy: neither checkpoint schedules a
    dedicated materialization job. Measured on this K4-plus-pendant graph:
    16 jobs with the two eager checkpoints, 14 lazy — pin strictly under
    the eager count."""
    from knime_core_columnar_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(2, 1), (1, 1), (5, 1), (1, 5)], "src long, dst long"
    )

    def go():
        return triangle_counts(edges).collect()

    rows, jobs = _run_in_group(spark, go)
    assert {r["node"]: r["n_triangles"] for r in rows} == {
        1: 3, 2: 3, 3: 3, 4: 3, 5: 0}
    assert jobs <= 15, f"triangle_counts scheduled {jobs} jobs (eager?)"


def _tree_data(spark):
    rows = [([(i % 100) / 100.0, float((i * 7) % 13) / 13.0],
             int(i % 100 >= 50)) for i in range(200)]
    return spark.createDataFrame(rows, "embedding array<double>, label int")


def test_decision_tree_level_checkpoints_are_lazy(spark):
    """decision_tree_lite's binned frame and its per-level node
    assignment are lazy checkpoints, materialized by the next level's
    histogram job: measured 10 jobs eager, 8 lazy for a depth-2 tree."""
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.ml import decision_tree_lite

    df = _tree_data(spark)

    def go():
        return decision_tree_lite(
            df, F.col("label"), max_depth=2, bins=16, min_leaf=5)[0]

    tree, jobs = _run_in_group(spark, go)
    assert tree[0]["feature"] == 0 and tree[0]["n"] == 200
    assert jobs <= 9, f"decision_tree_lite scheduled {jobs} jobs (eager?)"


def test_gbt_round_checkpoints_are_lazy(spark):
    """gbt_lite's binned frame and per-round score frame are lazy
    checkpoints: measured 22 jobs eager, 18 lazy for the default three
    rounds of depth 2."""
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.ml import gbt_lite

    df = _tree_data(spark)

    def go():
        return gbt_lite(df, F.col("label"))[0]

    model, jobs = _run_in_group(spark, go)
    assert len(model["trees"]) == 3
    assert jobs <= 21, f"gbt_lite scheduled {jobs} jobs (eager regression?)"


def test_curation_gate_keep_equals_flags_conjunction(spark):
    """The r12 single-expression gate (filtered mode) must admit
    EXACTLY the rows the flags mode marks __gk & __ck & __lk, for
    every tricky document shape and across parameter combos."""
    from knime_core_columnar_spark.operators.text import (
        curation_gate_fingerprints,
    )

    docs = [
        (1, None),
        (2, ""),
        (3, "   \t  "),
        (4, "the cat sat on the mat with a hat and that is all folks"),
        (5, ("the quick brown fox jumps over the lazy dog and that "
             "fox have been with many dogs of the north. "
             "every word here is plain english prose that should pass "
             "the gate table it keeps going with more of the same text "
             "and ends properly.")),
        (6, "word " * 300),
        (7, "### ... … # symbols every where # ... …"),
        (8, "der die und nicht ist der die und nicht ist der die und "
            "nicht ist der die und nicht ist der die und nicht ist."),
        (9, "lorem ipsum dolor sit amet " * 10),
        (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z."),
        (11, ("the cat and the dog have that hat table with many fine "
              "words of prose that end well table the second line also "
              "carries enough words to be kept here table and a third "
              "line of the same friendly shape is present too.")),
        (12, "singleword"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    combos = [
        {},
        {"min_words": 5, "max_words": 400},
        {"c4_min_kept_lines": 1, "c4_min_words_per_line": 2},
        {"lang": "de"},
        {"newline_synthesis": None},
        {"min_mean_word_len": 1.0, "max_mean_word_len": 20.0,
         "min_stopwords": 0, "min_alpha_ratio": 0.0},
    ]
    for kw in combos:
        filtered = {
            r["doc_id"]
            for r in curation_gate_fingerprints(df, **kw).collect()
        }
        fl = curation_gate_fingerprints(df, flags=True, **kw)
        expected = {
            r["doc_id"]
            for r in fl.collect()
            if r["__gk"] and r["__ck"] and r["__lk"]
        }
        assert filtered == expected, (kw, filtered, expected)

"""Deterministic logistic regression: numpy replication of the exact
scaled-int GD arithmetic on a micro example, plus a fully unrolled
DuckDB differential oracle on the embeddings table (the staged
round-6 catalog oracle)."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.ml import logreg_lite

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def _numpy_replica(X, y, iters=2, lr=0.25):
    Xe = np.hstack([np.ones((len(X), 1)), np.asarray(X, dtype=np.float64)])
    w = np.zeros(Xe.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Xe @ w)))
        g6 = np.round(np.round((p - y)[:, None] * Xe, 6) * 1e6).astype(np.int64)
        g = np.round(g6.sum(axis=0) / (len(Xe) * 1e6), 6)
        w = w - lr * g
    return np.round(w, 6)


def test_logreg_matches_numpy_replica(spark):
    rng = np.random.RandomState(7)
    X = rng.randn(40, 3)
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(np.float64)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]], bool(y[i])) for i in range(len(X))],
        "id long, embedding array<double>, pos boolean",
    )
    got = {
        r["dim"]: r["weight"]
        for r in logreg_lite(df, F.col("pos"), iters=2).collect()
    }
    want = _numpy_replica(X, y)
    assert len(got) == 4
    for j in range(4):
        assert got[j] == pytest.approx(want[j], abs=2e-6)


def test_logreg_learns_direction(spark):
    # separable on dimension 1: its weight must come out negative-class-
    # pushing (positive) after a couple of steps
    rows = [(i, [1.0 if i % 2 == 0 else -1.0], i % 2 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>, pos boolean")
    w = {r["dim"]: r["weight"] for r in logreg_lite(df, F.col("pos"), iters=3).collect()}
    assert w[1] > 0.1
    with pytest.raises(ValueError):
        logreg_lite(df, F.col("pos"), iters=0)


LOGREG_ORACLE = """
    WITH x AS (
      SELECT list_prepend(1.0, embedding::DOUBLE[]) AS x,
             CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
      FROM embeddings
    ), nn AS (SELECT COUNT(*) AS n FROM x),
    g1 AS (
      SELECT j, round(CAST(SUM(g6) AS DOUBLE) / (any_value(nn.n) * 1000000.0), 6) AS g
      FROM (
        SELECT generate_subscripts(x, 1) AS j,
               CAST(round(round((0.5 - y) * unnest(x), 6) * 1000000) AS BIGINT) AS g6
        FROM x
      ), nn GROUP BY j
    ),
    w1 AS (SELECT list(0.0 - 0.25 * g ORDER BY j) AS w FROM g1),
    p2 AS (
      SELECT x.x, x.y,
             1.0 / (1.0 + exp(-list_dot_product(w1.w, x.x))) AS p
      FROM x, w1
    ),
    g2 AS (
      SELECT j, round(CAST(SUM(g6) AS DOUBLE) / (any_value(nn.n) * 1000000.0), 6) AS g
      FROM (
        SELECT generate_subscripts(x, 1) AS j,
               CAST(round(round((p - y) * unnest(x), 6) * 1000000) AS BIGINT) AS g6
        FROM p2
      ), nn GROUP BY j
    )
    SELECT CAST(g2.j - 1 AS BIGINT) AS dim,
           round(w1.w[CAST(g2.j AS INT)] - 0.25 * g2.g, 6) AS weight
    FROM g2, w1
"""


def test_logreg_duckdb_oracle(spark, sf_dir):
    import duckdb

    from check import frame_to_multiset, oracle_type_problems

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = logreg_lite(emb, F.col("label") == 0, iters=2).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    assert not oracle_type_problems(con, LOGREG_ORACLE)
    want = con.execute(LOGREG_ORACLE).fetchdf()

    assert len(got) == len(want) > 0
    assert frame_to_multiset(got) == frame_to_multiset(want)


# ---------------------------------------------------------------------------
# Naive Bayes
# ---------------------------------------------------------------------------

def test_naive_bayes_separable_classes(spark):
    from knime_core_columnar_spark.operators.ml import naive_bayes_classify

    rows = [(i, "hund katze maus", "de") for i in range(10)]
    rows += [(100 + i, "dog cat mouse", "en") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = naive_bayes_classify(df)
    assert out.count() == 20
    assert out.filter("NOT match").count() == 0


NB_ORACLE = """
    WITH tok AS (
      SELECT doc_id, lang, unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS w
      FROM documents
    ), cw AS (
      SELECT w, lang, COUNT(*) AS cwc FROM tok GROUP BY w, lang
    ), ctot AS (
      SELECT lang, COUNT(*) AS nc FROM tok GROUP BY lang
    ), vocab AS (SELECT DISTINCT w FROM cw),
    vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS V FROM vocab),
    model AS (
      SELECT vocab.w, ctot.lang AS c,
             CAST(round(round(ln((CAST(COALESCE(cw.cwc, 0) AS DOUBLE) + 1.0)
                                 / (CAST(ctot.nc AS DOUBLE) + 1.0 * vs.V)), 6)
                        * 1000000) AS BIGINT) AS lp6
      FROM vocab CROSS JOIN ctot
      LEFT JOIN cw ON cw.w = vocab.w AND cw.lang = ctot.lang
      CROSS JOIN vs
    ), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndocs FROM documents),
    prior AS (
      SELECT lang AS c,
             CAST(round(round(ln(CAST(COUNT(*) AS DOUBLE) / any_value(nd.ndocs)), 6)
                        * 1000000) AS BIGINT) AS prior6
      FROM documents, nd GROUP BY lang
    ), scores AS (
      SELECT tok.doc_id, model.c,
             CAST(SUM(model.lp6) AS BIGINT) + any_value(prior.prior6) AS s6
      FROM tok JOIN model ON tok.w = model.w
               JOIN prior ON prior.c = model.c
      GROUP BY tok.doc_id, model.c
    ), best AS (
      SELECT doc_id, c AS pred FROM (
        SELECT doc_id, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s6 DESC, c) AS rk
        FROM scores
      ) WHERE rk = 1
    )
    SELECT d.doc_id, d.lang, best.pred, d.lang = best.pred AS match
    FROM documents d JOIN best USING (doc_id)
"""


def test_naive_bayes_duckdb_oracle(spark, sf_dir):
    import duckdb

    from check import frame_to_multiset, oracle_type_problems
    from knime_core_columnar_spark.operators.ml import naive_bayes_classify

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = naive_bayes_classify(d).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    assert not oracle_type_problems(con, NB_ORACLE)
    want = con.execute(NB_ORACLE).fetchdf()

    assert len(got) == len(want) > 0
    # the fixture's text is synthetic and INDEPENDENT of lang, so accuracy
    # can only be prior + token noise — the differential check is the gate;
    # it should still beat picking a class uniformly at random
    assert got["match"].mean() > 1.0 / got["lang"].nunique()
    assert frame_to_multiset(got) == frame_to_multiset(want)


def test_ml_ops_partition_invariant(spark, sf_dir):
    """The scaled-int aggregation discipline must make both models
    bit-identical under adversarial partitioning."""
    from knime_core_columnar_spark.operators.ml import naive_bayes_classify

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_w = sorted(
        (r["dim"], r["weight"])
        for r in logreg_lite(emb, F.col("label") == 0, iters=2).collect()
    )
    stress_w = sorted(
        (r["dim"], r["weight"])
        for r in logreg_lite(
            emb.repartition(37), F.col("label") == 0, iters=2
        ).collect()
    )
    assert base_w == stress_w

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_p = sorted(
        (r["doc_id"], r["pred"]) for r in naive_bayes_classify(d).collect()
    )
    stress_p = sorted(
        (r["doc_id"], r["pred"])
        for r in naive_bayes_classify(d.repartition(41)).collect()
    )
    assert base_p == stress_p


def test_one_hot_frequency_ranked_and_other(spark):
    from knime_core_columnar_spark.operators.ml import one_hot

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [(None,)],
        "cat string",
    )
    out = one_hot(df, "cat", max_categories=2)
    assert "cat__a" in out.columns and "cat__b" in out.columns
    assert "cat__c" not in out.columns and "cat__OTHER" in out.columns
    rows = out.collect()
    assert sum(r["cat__a"] for r in rows) == 5
    assert sum(r["cat__b"] for r in rows) == 3
    # rare value c AND the NULL row both fold into OTHER
    assert sum(r["cat__OTHER"] for r in rows) == 3
    # each row is one-hot: exactly one indicator set
    for r in rows:
        assert r["cat__a"] + r["cat__b"] + r["cat__OTHER"] == 1


def test_target_encode_out_of_fold_hand_computed(spark):
    from knime_core_columnar_spark.operators.ml import target_encode

    # category x: fold0 targets [1, 1], fold1 targets [0]
    # category y: only fold0 [0]  -> in fold1 y is unseen... (no y rows
    # in fold1, so no output row needed there)
    df = spark.createDataFrame(
        [("x", 1.0, 0), ("x", 1.0, 0), ("x", 0.0, 1), ("y", 0.0, 0)],
        "cat string, t double, fold int",
    )
    out = {
        (r["cat"], r["fold"], r["t"]): r["cat__te"]
        for r in target_encode(df, "cat", "t", "fold", prior_weight=2.0).collect()
    }
    # fold0 x rows: oof = fold1 only -> x sum 0, cnt 1; oof global mean =
    # fold1 mean = 0/1 = 0 -> enc = (0 + 2*0)/(1+2) = 0
    assert out[("x", 0, 1.0)] == 0.0
    # fold1 x row: oof = fold0 -> x sum 2, cnt 2; oof gmean = fold0 mean
    # = 2/3 -> enc = (2 + 2*(2/3))/(2+2)
    assert abs(out[("x", 1, 0.0)] - (2 + 2 * (2 / 3)) / 4) < 1e-12
    # fold0 y row: oof y count 0 -> pure prior = oof gmean = 0
    assert out[("y", 0, 0.0)] == 0.0


def test_target_encode_single_fold_fails_loudly(spark):
    """A fold holding every row makes the out-of-fold mean 0/0; the
    plan-embedded assert must raise, not silently emit NULL encodings."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from knime_core_columnar_spark.operators.ml import target_encode

    df = spark.createDataFrame(
        [("x", 1.0, 0), ("y", 0.0, 0)], "cat string, t double, fold int"
    )
    with pytest.raises(SparkRuntimeException, match="target_encode"):
        target_encode(df, "cat", "t", "fold").collect()


def test_binary_auc_exact_with_ties_and_exclusions(spark):
    from knime_core_columnar_spark.operators.ml import binary_auc

    # scores: pos [0.9, 0.5], neg [0.5, 0.1] -> pairs: (0.9 beats both
    # negs) + (0.5 vs 0.1 win, 0.5 vs 0.5 tie=0.5) => (2 + 1.5)/4 = 0.875
    rows = [(0.9, 1), (0.5, 1), (0.5, 0), (0.1, 0), (0.7, 2), (None, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    r = binary_auc(df, "score", "label").collect()[0]
    assert r["auc"] == 0.875
    assert r["n_pos"] == 2 and r["n_neg"] == 2 and r["n_excluded"] == 2
    # degenerate: single class -> NULL auc
    one = spark.createDataFrame([(0.3, 1), (0.6, 1)], "score double, label int")
    assert binary_auc(one, "score", "label").collect()[0]["auc"] is None


def test_binary_auc_matches_numpy_rank_formula(spark):
    import numpy as np

    from knime_core_columnar_spark.operators.ml import binary_auc

    rng = [(float(((i * 37) % 19) / 19.0), int((i * 13) % 3 == 0)) for i in range(500)]
    df = spark.createDataFrame(rng, "score double, label int")
    got = binary_auc(df, "score", "label").collect()[0]["auc"]
    scores = np.array([s for s, _ in rng])
    labels = np.array([l for _, l in rng])
    # average ranks (scipy-free): rank via argsort with tie averaging
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    i = 0
    while i < len(scores):
        j = i
        while j + 1 < len(scores) and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    P, N = labels.sum(), (1 - labels).sum()
    want = (ranks[labels == 1].sum() - P * (P + 1) / 2) / (P * N)
    assert abs(got - want) < 1e-12
    # partition invariance (exact integer path)
    got2 = binary_auc(df.repartition(13), "score", "label").collect()[0]["auc"]
    assert got == got2


def test_classification_report_counts(spark):
    from knime_core_columnar_spark.operators.ml import classification_report

    rows = [("a", "a")] * 3 + [("a", "b")] * 1 + [("b", "b")] * 2 + [("c", "a")] * 1
    df = spark.createDataFrame(rows, "label string, pred string")
    rep = {r["class"]: r for r in classification_report(df, "label", "pred").collect()}
    assert rep["a"]["n_true"] == 4 and rep["a"]["n_pred"] == 4 and rep["a"]["tp"] == 3
    assert rep["a"]["precision"] == 0.75 and rep["a"]["recall"] == 0.75
    assert rep["b"]["precision"] == 2 / 3 and rep["b"]["recall"] == 1.0
    # class c never predicted: precision NULL, recall 0
    assert rep["c"]["n_pred"] == 0 and rep["c"]["precision"] is None
    assert rep["c"]["recall"] == 0.0 and rep["c"]["f1"] is None


def _tree_data(spark):
    # separable on dim 0 at 0.5 (a bin edge never falls between 0.49
    # and 0.50's bins at the test's bin counts) with one noise dim
    rows = []
    for i in range(200):
        x0 = (i % 100) / 100.0
        rows.append(([x0, float((i * 7) % 13) / 13.0], int(x0 >= 0.5)))
    return spark.createDataFrame(rows, "embedding array<double>, label int")


def test_decision_tree_learns_separable_split(spark):
    from knime_core_columnar_spark.operators.ml import (
        decision_tree_lite,
        decision_tree_predict,
    )

    df = _tree_data(spark)
    tree, tdf = decision_tree_lite(
        df, F.col("label"), max_depth=2, bins=16, min_leaf=5
    )
    root = tree[0]
    assert not root["leaf"] and root["feature"] == 0
    assert abs(root["threshold"] - 0.5) < 0.1  # one bin width of 0.5
    # leaves are pure on this data
    leaves = [v for v in tree.values() if v["leaf"]]
    assert all(v["prob"] in (0.0, 1.0) for v in leaves)
    # predictor reproduces labels exactly
    scored = decision_tree_predict(df, tree)
    bad = scored.filter(
        (F.col("prob") >= 0.5).cast("int") != F.col("label")
    ).count()
    assert bad == 0
    # DataFrame mirror agrees with the dict
    rows = {r["node"]: r for r in tdf.collect()}
    assert rows[0]["feature"] == 0 and not rows[0]["is_leaf"]
    assert rows[0]["n"] == 200


def test_decision_tree_partition_invariant_and_stopping(spark):
    from knime_core_columnar_spark.operators.ml import decision_tree_lite

    df = _tree_data(spark)
    t1, _ = decision_tree_lite(df, F.col("label"), max_depth=3, bins=8)
    t2, _ = decision_tree_lite(
        df.repartition(13), F.col("label"), max_depth=3, bins=8
    )
    assert t1 == t2  # exact histograms -> identical trees
    # depth 0 -> a single leaf with the global rate
    t0, tdf0 = decision_tree_lite(df, F.col("label"), max_depth=0)
    assert t0[0]["leaf"] and t0[0]["n"] == 200
    assert abs(t0[0]["prob"] - 0.49) < 0.02
    assert tdf0.count() == 1
    # pure input -> leaf immediately
    pure = spark.createDataFrame(
        [([1.0, 0.0], 1)] * 20, "embedding array<double>, label int"
    )
    tp, _ = decision_tree_lite(pure, F.col("label"), max_depth=3)
    assert tp[0]["leaf"] and tp[0]["prob"] == 1.0


def test_decision_tree_min_leaf_veto(spark):
    from knime_core_columnar_spark.operators.ml import decision_tree_lite

    # 19 zeros + 1 one: any split isolating the one violates min_leaf=5
    rows = [([float(i == 0)], int(i == 0)) for i in range(20)]
    df = spark.createDataFrame(rows, "embedding array<double>, label int")
    tree, _ = decision_tree_lite(df, F.col("label"), max_depth=3, min_leaf=5)
    assert tree[0]["leaf"]
    assert tree[0]["n_pos"] == 1 and tree[0]["n"] == 20


def test_random_forest_deterministic_and_accurate(spark):
    from knime_core_columnar_spark.operators.ml import random_forest_lite

    rows = []
    for i in range(300):
        x0 = (i % 100) / 100.0
        rows.append((i, [x0, float((i * 11) % 17) / 17.0], int(x0 >= 0.5)))
    df = spark.createDataFrame(
        rows, "rid long, embedding array<double>, label int"
    )
    trees, predict = random_forest_lite(
        df, "rid", F.col("label"), n_trees=3, max_depth=2, bins=8
    )
    assert len(trees) == 3
    # subsampled trees may differ, but all recover feature 0 at the root
    assert all((t[0]["leaf"] is False and t[0]["feature"] == 0) for t in trees)
    scored = predict(df)
    bad = scored.filter(
        (F.col("prob") >= 0.5).cast("int") != F.col("label")
    ).count()
    assert bad == 0
    # deterministic bagging: same ensemble from any partitioning
    trees2, _ = random_forest_lite(
        df.repartition(13), "rid", F.col("label"), n_trees=3, max_depth=2, bins=8
    )
    assert trees == trees2


def test_gbt_stumps_fit_additive_signal(spark):
    from knime_core_columnar_spark.operators.ml import gbt_lite

    # majority-vote target over 3 INDEPENDENT grid features (base-5
    # digits): one depth-1 stump underfits; boosting rounds must
    # recover the additive structure
    rows = []
    for i in range(375):
        x = [((i // 5**d) % 5) / 5.0 for d in range(3)]
        score = sum(1 for v in x if v >= 0.5)
        rows.append((x, int(score >= 2)))
    df = spark.createDataFrame(rows, "embedding array<double>, label int")

    def acc(n_rounds):
        _, predict = gbt_lite(
            df, F.col("label"), n_rounds=n_rounds, lr=1.0, max_depth=1, bins=8
        )
        s = predict(df)
        return (
            s.filter((F.col("prob") >= 0.5).cast("int") == F.col("label")).count()
            / 375
        )

    a1, a8 = acc(1), acc(8)
    assert a8 > a1  # boosting actually boosts
    assert a8 == 1.0  # the additive target is exactly recoverable


def test_gbt_separable_and_partition_invariant(spark):
    from knime_core_columnar_spark.operators.ml import gbt_lite

    rows = []
    for i in range(200):
        x0 = (i % 100) / 100.0
        rows.append(([x0, float((i * 11) % 17) / 17.0], int(x0 >= 0.5)))
    df = spark.createDataFrame(rows, "embedding array<double>, label int")
    m1, predict = gbt_lite(df, F.col("label"), n_rounds=3, max_depth=2, bins=8)
    bad = (
        predict(df)
        .filter((F.col("prob") >= 0.5).cast("int") != F.col("label"))
        .count()
    )
    assert bad == 0
    m2, _ = gbt_lite(
        df.repartition(13), F.col("label"), n_rounds=3, max_depth=2, bins=8
    )
    assert m1["trees"] == m2["trees"] and m1["f0"] == m2["f0"]
    # probabilities move off the prior in the right direction
    probs = {r["label"]: r["prob"] for r in predict(df).collect()}
    assert probs[1] > 0.5 > probs[0]


def test_calibration_report_hand_case(spark):
    from pyspark.sql import functions as F

    from knime_core_columnar_spark.operators.ml import calibration_report

    rows = (
        [(0.05, 0)] * 9 + [(0.05, 1)]        # bin 0: 10 rows, 1 pos
        + [(0.95, 1)] * 8 + [(0.95, 0)] * 2  # bin 9: 10 rows, 8 pos
        + [(1.0, 1)]                         # score==1.0 clamps to bin 9
    )
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["bin"]: r for r in calibration_report(df, "score", "label").collect()}
    assert set(out) == {0, 9}
    b0 = out[0]
    assert (b0["n"], b0["n_pos"]) == (10, 1)
    assert b0["mean_score"] == 0.05 and b0["frac_pos"] == 0.1
    assert b0["gap"] == 0.05
    b9 = out[9]
    assert (b9["n"], b9["n_pos"]) == (11, 9)
    assert b9["mean_score"] == round((0.95 * 10 + 1.0) / 11, 6)

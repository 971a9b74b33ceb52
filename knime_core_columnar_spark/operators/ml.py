"""Deterministic logistic regression (fixed-iteration batch gradient
descent) — the KNIME Logistic Regression Learner's capability expressed
Spark-first, built so the ENTIRE training loop is differentially
testable against a SQL oracle, the same engineering as
clustering.kmeans_lite:

- features are prepended with a constant 1.0 (bias as dimension 0);
- weights start at exact zeros, so iteration 1 is reproducible from
  nothing;
- per-row score ``w·x`` accumulates in element order (bit-identical to
  DuckDB's list_dot_product); ``sigmoid`` is one ``exp`` on identical
  doubles (the documented 1-ulp cross-engine risk class shared with
  unigram_logprob's ``ln`` — accepted, data-dependent, never
  parallelism-dependent);
- the gradient aggregation is EXACT integer math: each per-row
  contribution ``(p − y)·x_j`` is rounded to 6 decimals and scaled to
  int64 BEFORE summing, so gradients — and therefore the learned
  weights — are identical at any parallelism and in any engine;
- the learning rate defaults to 0.25 (a power of two: the weight
  update multiply is exact in binary floating point).

Scale shape per iteration: one broadcast of the (1+D)-element weight
vector to a narrow scoring scan (no shuffle of the features), then a
(dim, int64) gradient aggregation — 1+D groups regardless of corpus
size. Fixed iteration count: no convergence-check collect in the plan;
the whole run is one lazy DAG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.clustering import _sq_norm  # noqa: F401
from knime_core_columnar_spark.operators.similarity import dot
from knime_core_columnar_spark.session import checkpoint

__all__ = [
    "logreg_lite", "naive_bayes_classify", "one_hot", "target_encode",
    "binary_auc", "classification_report", "decision_tree_lite",
    "decision_tree_predict", "random_forest_lite", "gbt_lite",
]


def logreg_lite(
    df: DataFrame,
    label_expr: Column,
    vec_col: str = "embedding",
    iters: int = 2,
    lr: float = 0.25,
) -> DataFrame:
    """Train ``iters`` full-batch GD steps of binary logistic regression
    on ``vec_col`` against ``label_expr`` (boolean → {0,1}). Returns one
    row per model dimension: ``dim`` (0 = bias) and ``weight`` (the
    final weights, rounded to 6 decimals).

    Gradient: ``g_j = Σ_rows (σ(w·x) − y)·x_j / n``, per-row terms
    scaled to int64 micro-units before the sum (exact aggregation);
    update: ``w_j ← w_j − lr·round(g_j, 6)``."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    x = df.select(
        F.concat(
            F.array(F.lit(1.0)),
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
        ).alias("__x"),
        label_expr.cast("int").cast("double").alias("__y"),
    )
    n = F.count(F.lit(1))
    # weights live in a single-row frame (like kmeans centroids): zeros
    # sized from one sample row — no driver collect anywhere
    w = x.limit(1).select(
        F.transform(F.col("__x"), lambda _: F.lit(0.0)).alias("__w")
    )
    for _ in range(iters):
        scored = x.crossJoin(F.broadcast(w)).select(
            "__x",
            "__y",
            "__w",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-dot(F.col("__w"), F.col("__x"))))
            ).alias("__p"),
        )
        contrib = scored.select(
            "__w",
            F.posexplode(
                F.transform(
                    F.col("__x"),
                    lambda xj: F.round(
                        F.round((F.col("__p") - F.col("__y")) * xj, 6) * 1_000_000,
                        0,
                    ).cast("long"),
                )
            ).alias("__j", "__g6"),
        )
        grad = contrib.groupBy("__j").agg(
            F.round(F.sum("__g6").cast("double") / (n * F.lit(1_000_000.0)), 6).alias(
                "__g"
            ),
            F.first("__w").alias("__w"),
        )
        w = grad.groupBy().agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__j"),
                            (
                                F.element_at(F.col("__w"), F.col("__j") + 1)
                                - F.lit(lr) * F.col("__g")
                            ).alias("__wj"),
                        )
                    )
                ),
                lambda s: s["__wj"],
            ).alias("__w")
        )
    return w.select(F.posexplode("__w").alias("dim", "__wv")).select(
        "dim", F.round(F.col("__wv"), 6).alias("weight")
    )


def naive_bayes_classify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    class_col: str = "lang",
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes, self-train + self-score (the KNIME
    Naive Bayes Learner+Predictor pair, Spark-first): learn
    ``P(class)`` and Laplace-smoothed ``P(token|class)`` from the
    corpus, then classify every document by summed log-likelihood —
    the classic cheap language-ID / topical-routing model.

    Determinism: the same scaled-int discipline as logreg_lite /
    unigram_logprob — every per-token class log-prob and every class
    prior is rounded to 6 decimals and scaled to int64; the per-doc
    per-class accumulation is exact integer math, and the argmax is a
    min-struct with a class-name tie-break (no float comparisons
    cross-engine, no windows).

    Scale shape: one token explode → (token, class) count aggregation
    (vocab × |classes| — the model, ≪ corpus); the smoothed model is
    densified by a vocab × classes cross join so unseen (token, class)
    cells score ``α / (n_c + α·V)``; scoring joins token rows to the
    model on the token (|classes|-fold fan-out, classes are few) and
    min-structs per doc. Priors ride a broadcast |classes|-row frame.

    Output: ``id_col``, ``class_col`` (actual), ``pred`` (argmax
    class), ``match`` (actual == pred).
    """
    from knime_core_columnar_spark.operators.text import tokens

    tok = df.select(
        id_col, F.col(class_col), F.explode(tokens(text_col)).alias("__w")
    )
    cw = tok.groupBy("__w", class_col).agg(F.count(F.lit(1)).alias("__cwc"))
    ctot = tok.groupBy(class_col).agg(F.count(F.lit(1)).alias("__nc"))
    vocab = cw.select("__w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    model = (
        vocab.crossJoin(ctot)
        .join(cw, ["__w", class_col], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "__w",
            F.col(class_col).alias("__c"),
            F.round(
                F.round(
                    F.log(
                        (F.coalesce(F.col("__cwc"), F.lit(0)).cast("double") + F.lit(alpha))
                        / (F.col("__nc").cast("double") + F.lit(alpha) * F.col("__V"))
                    ),
                    6,
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("__lp6"),
        )
    )
    ndocs = df.agg(F.count(F.lit(1)).cast("double").alias("__nd"))
    prior = (
        df.groupBy(class_col)
        .agg(F.count(F.lit(1)).alias("__dc"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col(class_col).alias("__c"),
            F.round(
                F.round(F.log(F.col("__dc").cast("double") / F.col("__nd")), 6)
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("__prior6"),
        )
    )
    scores = (
        tok.join(model, "__w")
        .groupBy(id_col, "__c")
        .agg(F.sum("__lp6").alias("__ll6"))
        .join(F.broadcast(prior), "__c")
        .select(
            id_col, "__c", (F.col("__ll6") + F.col("__prior6")).alias("__s6")
        )
    )
    pred = scores.groupBy(id_col).agg(
        F.min(F.struct((-F.col("__s6")).alias("n"), F.col("__c").alias("c"))).alias(
            "__best"
        )
    )
    return (
        df.select(id_col, class_col)
        .join(pred, id_col)
        .select(
            id_col,
            class_col,
            F.col("__best.c").alias("pred"),
            (F.col(class_col) == F.col("__best.c")).alias("match"),
        )
    )


def one_hot(
    df: DataFrame,
    col: str,
    max_categories: int = 256,
    other_bucket: bool = True,
    prefix: str | None = None,
) -> DataFrame:
    """One-hot encoding with a DETERMINISTIC, frequency-ranked category
    set (KNIME's One to Many node): the ``max_categories`` most frequent
    values (count desc, value asc — stable across engines and reruns)
    each get an indicator column; everything else — rare values and
    NULL — folds into ``<prefix>__OTHER`` when ``other_bucket`` (else
    contributes all-zero indicators).

    Scale shape: the category table is the only driver materialization
    and it is bounded by ``max_categories`` (orderBy+limit compiles to
    TakeOrdered — per-partition heaps, no global sort); encoding itself
    is one codegen projection, no shuffle, no join.
    """
    p = prefix if prefix is not None else col
    cats = [
        r[0]
        for r in (
            df.filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.col("__n").desc(), F.col(col))
            .limit(max_categories)
            .collect()
        )
    ]
    out = [F.col(c) for c in df.columns]
    known = None
    for v in cats:
        eq = F.col(col).eqNullSafe(F.lit(v))
        out.append(eq.cast("int").alias(f"{p}__{v}"))
        known = eq if known is None else known | eq
    if other_bucket:
        other = ~known if known is not None else F.lit(True)
        out.append(other.cast("int").alias(f"{p}__OTHER"))
    return df.select(*out)


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_col: str,
    prior_weight: float = 10.0,
    out_col: str | None = None,
) -> DataFrame:
    """Leakage-safe (out-of-fold) smoothed target encoding — the
    feature-engineering companion of ``sampling.grouped_kfold``: each
    row's encoding uses only target values from OTHER folds, so the
    encoded feature never sees its own row's label (the classic target-
    leak that inflates validation scores).

        enc(cat, fold) = (oof_sum(cat) + w · oof_mean(fold))
                         / (oof_cnt(cat) + w)

    where oof_* exclude ``fold`` and the smoothing prior is the
    out-of-fold GLOBAL mean (categories unseen outside the fold get
    exactly the prior). Target sums accumulate in decimal(27,6) —
    engine-exact for label-like targets — and the final division is a
    single IEEE op, so encodings are identical at any parallelism.

    Scale shape: one (cat, fold) partial aggregation over the corpus;
    category and fold totals re-aggregate the partials (small frames);
    the encoding table is |cats|×|folds| rows, broadcast back onto the
    corpus. Requires ≥2 folds.
    """
    oc = out_col or f"{cat_col}__te"
    t = F.col(target_col).cast("decimal(27,6)")
    cf = df.groupBy(cat_col, fold_col).agg(
        F.count(F.lit(1)).alias("__c"), F.sum(t).alias("__s")
    )
    cat_tot = cf.groupBy(cat_col).agg(
        F.sum("__c").alias("__cc"), F.sum("__s").alias("__cs")
    )
    fold_tot = cf.groupBy(fold_col).agg(
        F.sum("__c").alias("__fc"), F.sum("__s").alias("__fs")
    )
    grand = cf.agg(F.sum("__c").alias("__gc"), F.sum("__s").alias("__gs"))
    # plan-embedded fold validation (same discipline as concatenate's
    # duplicate check): if any fold holds ALL rows, the out-of-fold
    # global mean is 0/0 — fail loudly at execution instead of silently
    # emitting NULL encodings for that fold. The assert rides the tiny
    # |cats|×|folds| encoding frame, not the corpus.
    oof_n = (F.col("__gc") - F.col("__fc")).cast("double")
    fold_ok = F.assert_true(
        F.col("__gc") > F.col("__fc"),
        F.concat(
            F.lit("target_encode: fold "),
            F.col(fold_col).cast("string"),
            F.lit(" contains every row — need >=2 non-empty folds"),
        ),
    )
    enc = (
        cf.join(cat_tot, cat_col)
        .join(fold_tot, fold_col)
        .crossJoin(F.broadcast(grand))
        .select(
            cat_col,
            fold_col,
            (
                # the assert MUST be the LEFT operand: Add short-circuits
                # when its left side is NULL, and the 0/0 division makes
                # the encoding NULL in exactly the single-fold case the
                # assert guards — right-placed it would never evaluate
                F.coalesce(fold_ok.cast("double"), F.lit(0.0))
                + (
                    (F.col("__cs") - F.col("__s")).cast("double")
                    + F.lit(prior_weight)
                    * (
                        (F.col("__gs") - F.col("__fs")).cast("double")
                        / oof_n
                    )
                )
                / ((F.col("__cc") - F.col("__c")).cast("double") + F.lit(prior_weight))
            ).alias(oc),
        )
    )
    return df.join(F.broadcast(enc), [cat_col, fold_col], "left")


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: scores in
    [0, 1] bucket into ``n_bins`` equal-width bins; each bin reports
    count, positives, mean predicted score, observed positive fraction,
    and the |confidence − accuracy| gap. ECE is the n-weighted sum of
    ``gap`` — left to the consumer so the report stays one-row-per-bin.
    The companion of ``binary_auc``: AUC says the ranking is right,
    calibration says the probabilities are (a quality-classifier score
    used as a sampling weight is only as good as its calibration).

    Scale shape: ONE partially-aggregated groupBy over the scan —
    n_bins rows out. The score sum accumulates in decimal(28,6) so
    ``mean_score`` is identical at any parallelism (same discipline as
    the mean imputer); ratios are single IEEE divisions of exact
    sums."""
    score = F.col(score_col)
    bucket = F.least(
        F.lit(n_bins - 1), F.floor(score * n_bins).cast("int")
    ).alias("bin")
    agg = (
        df.select(bucket, score.alias("__s"), F.col(label_col).cast("long").alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            F.sum(F.col("__s").cast("decimal(28,6)")).alias("__ss"),
        )
    )
    mean_score = F.round(
        F.col("__ss").cast("double") / F.col("n").cast("double"), 6
    )
    frac_pos = F.round(
        F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
    )
    return agg.select(
        F.col("bin").cast("long").alias("bin"),
        "n",
        "n_pos",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.round(F.abs(mean_score - frac_pos), 6).alias("gap"),
    )


def binary_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """EXACT ROC-AUC (Mann-Whitney with average-rank tie handling)
    without a global window: scores aggregate to (score, n_pos, n_neg)
    groups; a two-phase prefix sum (``sampling.distributed_cumsum`` —
    range-sorted, no single-reducer window) supplies the negatives
    strictly below each score; then

        AUC = Σ_g  p_g · (2·cum_neg_before(g) + n_g)  /  (2 · P · N)

    The numerator is EXACT int64 arithmetic (ties contribute n/2 via
    the doubled form, no halves), so AUC is bit-identical at any
    parallelism; the one division is a single IEEE op. Rows with label
    NOT IN (0, 1) or NULL score are excluded (counted in the output).

    Returns one row: (auc, n_pos, n_neg, n_excluded). AUC is NULL when
    either class is empty.
    """
    lab = F.col(label_col).cast("long")
    valid = lab.isin(0, 1) & F.col(score_col).isNotNull()
    n_excluded = df.filter(~F.coalesce(valid, F.lit(False))).count()
    g = (
        df.filter(valid)
        .groupBy(F.col(score_col).cast("double").alias("__s"))
        .agg(
            F.sum(lab).alias("__p"),
            F.sum(F.lit(1) - lab).alias("__n"),
        )
    )
    from knime_core_columnar_spark.operators.sampling import distributed_cumsum

    c = distributed_cumsum(
        g, [F.col("__s")], F.col("__n"), out_col="__cumn", exclusive=True
    )
    agg = c.agg(
        F.sum(
            F.col("__p") * (F.lit(2) * F.col("__cumn") + F.col("__n"))
        ).alias("__numer2"),
        F.sum("__p").alias("n_pos"),
        F.sum("__n").alias("n_neg"),
    )
    return agg.select(
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("__numer2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
        F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
        F.coalesce("n_neg", F.lit(0)).alias("n_neg"),
        F.lit(n_excluded).alias("n_excluded"),
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision/recall/F1 from one confusion aggregation
    (KNIME Scorer node): the corpus collapses to the |labels|×|preds|
    pair-count table in a single partial-aggregated shuffle; every
    metric derives from that small frame. Classes = union of observed
    labels and predictions, so a never-predicted class still reports
    recall and a never-true class reports precision. Divisions are
    single IEEE ops on exact counts; 0/0 cases are NULL.

    Returns (class, n_true, n_pred, tp, precision, recall, f1).
    """
    pairs = (
        df.groupBy(
            F.col(label_col).cast("string").alias("__l"),
            F.col(pred_col).cast("string").alias("__p"),
        ).agg(F.count(F.lit(1)).alias("__c"))
    )
    truth = pairs.groupBy(F.col("__l").alias("class")).agg(
        F.sum("__c").alias("n_true")
    )
    pred = pairs.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__c").alias("n_pred")
    )
    tp = (
        pairs.filter(F.col("__l") == F.col("__p"))
        .select(F.col("__l").alias("class"), F.col("__c").alias("tp"))
    )
    base = (
        truth.join(pred, "class", "full_outer")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
    )
    rec = F.when(
        F.col("n_true") > 0, F.col("tp").cast("double") / F.col("n_true")
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        F.lit(2.0) * prec * rec / (prec + rec),
    )
    return base.select(
        "class", "n_true", "n_pred", "tp",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def decision_tree_lite(
    df: DataFrame,
    label_expr: Column,
    vec_col: str = "embedding",
    max_depth: int = 3,
    bins: int = 16,
    min_leaf: int = 5,
):
    """Histogram-based binary decision-tree learner (KNIME Decision Tree
    Learner's capability, built level-wise the way LightGBM/XGBoost
    train at scale): per depth level, ONE corpus aggregation produces
    the (node, feature, bin) → (count, positives) histogram — a frame
    bounded by nodes × dims × bins regardless of corpus size — and the
    split election runs driver-side over that bounded table (the same
    bounded-table-on-driver shape as BPE training).

    Determinism end to end: bin edges come from exact global min/max
    (order-independent), histogram counts are exact int64, Gini gains
    are IEEE ops on those exact ints with ties broken by (feature, bin)
    — identical trees at any parallelism (tested).

    Split rule: feature j ≤ upper-edge-of-bin b goes left. A node stops
    splitting when it is pure, smaller than 2·min_leaf, at max_depth, or
    no split has positive Gini gain; either CHILD smaller than min_leaf
    vetoes the split.

    Returns (tree, spark_df) where ``tree`` is
    {node: {"leaf": bool, "feature": j, "threshold": x, "n": n,
    "n_pos": p, "prob": p/n}} and ``spark_df`` the same as a DataFrame
    (node, is_leaf, feature, threshold, n, n_pos, prob). Node ids:
    root 0, children of k are 2k+1 / 2k+2.
    """
    x = df.select(
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("__x"),
        label_expr.cast("int").alias("__y"),
    )
    edges = (
        x.select(F.posexplode("__x").alias("__j", "__v"))
        .groupBy("__j")
        .agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"))
        .orderBy("__j")
        .collect()  # D rows
    )
    los = [r["lo"] for r in edges]
    widths = [
        ((r["hi"] - r["lo"]) / bins if r["hi"] > r["lo"] else 1.0) for r in edges
    ]
    lo_arr = F.array(*[F.lit(float(v)) for v in los])
    w_arr = F.array(*[F.lit(float(v)) for v in widths])
    # rows re-scanned once per level
    binned = checkpoint(x.select(
        F.zip_with(
            "__x",
            F.zip_with(lo_arr, w_arr, lambda a, b: F.struct(
                a.alias("lo"), b.alias("w"))),
            lambda v, p: F.least(
                F.lit(bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((v - p["lo"]) / p["w"]).cast("int"),
                ),
            ),
        ).alias("__b"),
        "__y",
        F.lit(0).alias("__node"),
    ))

    def gini(p: int, n: int) -> float:
        if n == 0:
            return 0.0
        q = p / n
        return 2.0 * q * (1.0 - q)

    tree: dict[int, dict] = {}
    open_nodes = {0}
    for depth in range(max_depth + 1):
        if not open_nodes:
            break
        hist = (
            binned.filter(F.col("__node").isin(list(open_nodes)))
            .select("__node", "__y", F.posexplode("__b").alias("__j", "__bin"))
            .groupBy("__node", "__j", "__bin")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum("__y").alias("p"),
            )
            .collect()  # ≤ |open| × D × bins rows
        )
        by_node: dict[int, dict] = {}
        for r in hist:
            by_node.setdefault(r["__node"], {}).setdefault(
                r["__j"], {}
            )[r["__bin"]] = (r["c"], r["p"])
        splits: dict[int, tuple[int, int]] = {}
        next_open = set()
        for node in sorted(open_nodes):
            feats = by_node.get(node)
            if feats is None:
                continue
            f0 = next(iter(feats.values()))
            n_tot = sum(c for c, _ in f0.values())
            p_tot = sum(p for _, p in f0.values())
            leaf = {
                "leaf": True, "feature": None, "threshold": None,
                "n": n_tot, "n_pos": p_tot,
                "prob": (p_tot / n_tot) if n_tot else 0.0,
            }
            if (
                depth == max_depth
                or n_tot < 2 * min_leaf
                or p_tot == 0
                or p_tot == n_tot
            ):
                tree[node] = leaf
                continue
            parent_imp = gini(p_tot, n_tot)
            best = None  # (neg_gain, j, bin) — min wins, ties (j, bin) asc
            for j in sorted(feats):
                cl = pl = 0
                for b in range(bins - 1):
                    c, p = feats[j].get(b, (0, 0))
                    cl += c
                    pl += p
                    cr, pr = n_tot - cl, p_tot - pl
                    if cl < min_leaf or cr < min_leaf:
                        continue
                    gain = parent_imp - (
                        cl / n_tot * gini(pl, cl) + cr / n_tot * gini(pr, cr)
                    )
                    if gain > 1e-12:
                        key = (-gain, j, b)
                        if best is None or key < best:
                            best = key
            if best is None:
                tree[node] = leaf
                continue
            _, j, b = best
            splits[node] = (j, b)
            tree[node] = {
                "leaf": False, "feature": j,
                "threshold": los[j] + (b + 1) * widths[j],
                "n": n_tot, "n_pos": p_tot,
                "prob": (p_tot / n_tot) if n_tot else 0.0,
            }
            next_open.add(2 * node + 1)
            next_open.add(2 * node + 2)
        if splits:
            expr = F.col("__node")
            for node, (j, b) in sorted(splits.items()):
                expr = F.when(
                    F.col("__node") == node,
                    F.when(
                        F.element_at("__b", j + 1) <= b, F.lit(2 * node + 1)
                    ).otherwise(F.lit(2 * node + 2)),
                ).otherwise(expr)
            binned = checkpoint(binned.withColumn("__node", expr))
        open_nodes = next_open

    spark = df.sparkSession
    rows = [
        (
            int(k), bool(v["leaf"]),
            None if v["feature"] is None else int(v["feature"]),
            None if v["threshold"] is None else float(v["threshold"]),
            int(v["n"]), int(v["n_pos"]), float(round(v["prob"], 6)),
        )
        for k, v in sorted(tree.items())
    ]
    tdf = spark.createDataFrame(
        rows,
        "node long, is_leaf boolean, feature int, threshold double, "
        "n long, n_pos long, prob double",
    )
    return tree, tdf


def decision_tree_predict(
    df: DataFrame,
    tree: dict,
    vec_col: str = "embedding",
    out_col: str = "prob",
) -> DataFrame:
    """Score with a trained ``decision_tree_lite`` model: the tree
    (≤ 2^depth nodes — bytes) compiles into one nested CASE expression,
    so scoring is a pure codegen projection: no join, no shuffle, no
    Python."""
    def node_expr(node: int):
        spec = tree.get(node)
        if spec is None or spec["leaf"]:
            prob = 0.0 if spec is None else round(spec["prob"], 6)
            return F.lit(float(prob))
        j, t = spec["feature"], spec["threshold"]
        return F.when(
            F.element_at(F.col(vec_col), j + 1).cast("double") <= F.lit(t),
            node_expr(2 * node + 1),
        ).otherwise(node_expr(2 * node + 2))

    return df.withColumn(out_col, node_expr(0))


def random_forest_lite(
    df: DataFrame,
    id_col: str,
    label_expr: Column,
    vec_col: str = "embedding",
    n_trees: int = 5,
    max_depth: int = 3,
    bins: int = 16,
    min_leaf: int = 5,
    sample_pct: int = 80,
):
    """Bagged ensemble of ``decision_tree_lite`` trees (KNIME Random
    Forest Learner's capability, binary targets): tree t trains on the
    DETERMINISTIC bootstrap-style subset
    ``md5(id | t) % 100 < sample_pct`` — the same keyed-hash discipline
    as ``sampling.hash_split``, so ensembles are identical across
    partitionings, reruns, and engines (no RNG state anywhere).
    ``id_col`` exists precisely to make bagging a pure row function.

    Cost: n_trees × (max_depth+1) histogram passes, each the bounded
    (node, feature, bin) aggregation of the base learner. Diversity
    comes from the subsample (feature subsampling is omitted — at the
    fixed depths used here the subsample alone decorrelates trees).

    Returns (trees, predict) where ``trees`` is the list of tree dicts
    and ``predict(df)`` scores by mean leaf probability — n_trees
    nested-CASE expressions averaged in one codegen projection.
    """
    trees = []
    for t in range(n_trees):
        keep = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(id_col).cast("string"),
                                   F.lit(f"|rf{t}"))), 1, 15
                ), 16, 10
            ).cast("long") % 100 < sample_pct
        )
        tree, _ = decision_tree_lite(
            df.filter(keep), label_expr, vec_col,
            max_depth=max_depth, bins=bins, min_leaf=min_leaf,
        )
        trees.append(tree)

    def predict(frame: DataFrame, out_col: str = "prob") -> DataFrame:
        cols = []
        for i, tree in enumerate(trees):
            frame = decision_tree_predict(
                frame, tree, vec_col, out_col=f"__p{i}"
            )
            cols.append(F.col(f"__p{i}"))
        avg = sum(cols[1:], cols[0]) / F.lit(float(len(cols)))
        return frame.withColumn(out_col, F.round(avg, 6)).drop(
            *[f"__p{i}" for i in range(len(trees))]
        )

    return trees, predict


def gbt_lite(
    df: DataFrame,
    label_expr: Column,
    vec_col: str = "embedding",
    n_rounds: int = 3,
    lr: float = 0.5,
    max_depth: int = 2,
    bins: int = 16,
    min_leaf: int = 5,
):
    """Gradient-boosted trees for binary targets (KNIME Gradient Boosted
    Trees Learner's capability) — the standard histogram formulation:
    features are binned ONCE (exact global min/max edges, shared by
    every round, as LightGBM does); each round fits a REGRESSION tree to
    the pseudo-residual ``y − σ(F)`` by SSE-gain splits over a
    (node, feature, bin) → (count, Σ residual) histogram whose residual
    sums are int64 micro-units — so splits, leaf values, and therefore
    the whole ensemble are identical at any parallelism; the score
    update ``F += lr · leaf(x)`` is a nested-CASE codegen projection
    (a checkpoint per round truncates lineage like every iterative
    operator here).

    Cost: n_rounds × (max_depth+1) bounded histogram passes over the
    binned frame — per-level frames are nodes × dims × bins regardless
    of corpus size.

    Returns (model, predict): ``model`` = {"f0": base log-odds,
    "trees": [tree dict per round]} with tree nodes
    {"leaf": bool, "feature": j, "bin": b, "threshold": x, "value": v};
    ``predict(frame)`` appends ``prob`` = σ(F) — one projection, no
    shuffle, no Python.
    """
    x = df.select(
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("__x"),
        label_expr.cast("int").alias("__y"),
    )
    edges = (
        x.select(F.posexplode("__x").alias("__j", "__v"))
        .groupBy("__j")
        .agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"))
        .orderBy("__j")
        .collect()
    )
    los = [r["lo"] for r in edges]
    widths = [
        ((r["hi"] - r["lo"]) / bins if r["hi"] > r["lo"] else 1.0) for r in edges
    ]
    lo_arr = F.array(*[F.lit(float(v)) for v in los])
    w_arr = F.array(*[F.lit(float(v)) for v in widths])
    binned = checkpoint(x.select(
        F.zip_with(
            "__x",
            F.zip_with(lo_arr, w_arr, lambda a, b: F.struct(
                a.alias("lo"), b.alias("w"))),
            lambda v, p: F.least(
                F.lit(bins - 1),
                F.greatest(F.lit(0), F.floor((v - p["lo"]) / p["w"]).cast("int")),
            ),
        ).alias("__b"),
        "__y",
    ))
    tot = binned.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("p")
    ).head()
    n_all, p_all = tot["n"], tot["p"] or 0
    rate = min(max((p_all or 0) / n_all if n_all else 0.5, 1e-6), 1 - 1e-6)
    import math

    f0 = round(math.log(rate / (1 - rate)), 6)

    def tree_case(tree: dict, node: int = 0) -> Column:
        spec = tree.get(node)
        if spec is None:
            return F.lit(0.0)
        if spec["leaf"]:
            return F.lit(float(spec["value"]))
        return F.when(
            F.element_at("__b", spec["feature"] + 1) <= spec["bin"],
            tree_case(tree, 2 * node + 1),
        ).otherwise(tree_case(tree, 2 * node + 2))

    cur = binned.withColumn("__f", F.lit(float(f0)))
    trees: list[dict] = []
    for _ in range(n_rounds):
        cur = cur.withColumn(
            "__r6",
            F.round(
                F.round(
                    F.col("__y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__f"))),
                    6,
                ) * 1_000_000,
                0,
            ).cast("long"),
        ).withColumn("__node", F.lit(0))
        tree: dict[int, dict] = {}
        open_nodes = {0}
        for depth in range(max_depth + 1):
            if not open_nodes:
                break
            hist = (
                cur.filter(F.col("__node").isin(list(open_nodes)))
                .select("__node", "__r6", F.posexplode("__b").alias("__j", "__bin"))
                .groupBy("__node", "__j", "__bin")
                .agg(F.count(F.lit(1)).alias("c"), F.sum("__r6").alias("s"))
                .collect()
            )
            by_node: dict[int, dict] = {}
            for r in hist:
                by_node.setdefault(r["__node"], {}).setdefault(
                    r["__j"], {}
                )[r["__bin"]] = (r["c"], r["s"])
            splits = {}
            next_open = set()
            for node in sorted(open_nodes):
                feats = by_node.get(node)
                if feats is None:
                    continue
                f0v = next(iter(feats.values()))
                c_tot = sum(c for c, _ in f0v.values())
                s_tot = sum(s for _, s in f0v.values())
                leaf = {
                    "leaf": True, "feature": None, "bin": None,
                    "threshold": None,
                    "value": round(s_tot / (c_tot * 1e6), 6) if c_tot else 0.0,
                }
                if depth == max_depth or c_tot < 2 * min_leaf:
                    tree[node] = leaf
                    continue
                base = (s_tot * s_tot) / c_tot
                best = None  # (neg_gain, j, bin)
                for j in sorted(feats):
                    cl = sl = 0
                    for b in range(bins - 1):
                        c, s = feats[j].get(b, (0, 0))
                        cl += c
                        sl += s
                        cr, sr = c_tot - cl, s_tot - sl
                        if cl < min_leaf or cr < min_leaf:
                            continue
                        gain = (sl * sl) / cl + (sr * sr) / cr - base
                        if gain > 1e-6:
                            key = (-gain, j, b)
                            if best is None or key < best:
                                best = key
                if best is None:
                    tree[node] = leaf
                    continue
                _, j, b = best
                splits[node] = (j, b)
                tree[node] = {
                    "leaf": False, "feature": j, "bin": b,
                    "threshold": los[j] + (b + 1) * widths[j],
                    "value": None,
                }
                next_open.add(2 * node + 1)
                next_open.add(2 * node + 2)
            if splits:
                expr = F.col("__node")
                for node, (j, b) in sorted(splits.items()):
                    expr = F.when(
                        F.col("__node") == node,
                        F.when(
                            F.element_at("__b", j + 1) <= b, F.lit(2 * node + 1)
                        ).otherwise(F.lit(2 * node + 2)),
                    ).otherwise(expr)
                cur = cur.withColumn("__node", expr)
            open_nodes = next_open
        trees.append(tree)
        cur = checkpoint(cur.withColumn(
            "__f", F.col("__f") + F.lit(lr) * tree_case(tree)
        ).drop("__node", "__r6"))

    model = {"f0": f0, "lr": lr, "trees": trees,
             "los": los, "widths": widths, "bins": bins}

    def predict(frame: DataFrame, out_col: str = "prob") -> DataFrame:
        b = F.zip_with(
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
            F.zip_with(
                F.array(*[F.lit(float(v)) for v in los]),
                F.array(*[F.lit(float(v)) for v in widths]),
                lambda a, bb: F.struct(a.alias("lo"), bb.alias("w")),
            ),
            lambda v, p: F.least(
                F.lit(bins - 1),
                F.greatest(F.lit(0), F.floor((v - p["lo"]) / p["w"]).cast("int")),
            ),
        )
        scored = frame.withColumn("__b", b)
        f = F.lit(float(f0))
        for tree in trees:
            f = f + F.lit(lr) * tree_case(tree)
        return scored.withColumn(
            out_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-f)), 6)
        ).drop("__b")

    return model, predict

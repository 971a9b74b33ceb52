"""Deterministic k-means (Lloyd's algorithm, fixed iteration count) —
the KNIME k-Means node's capability expressed Spark-first, built so the
ENTIRE iterative algorithm is differentially testable against a SQL
oracle:

- init: centroids are a deterministic md5 hash-sample of the corpus
  (same scheme as similarity.ivf_topk — partitioning-independent, no
  global sort);
- assignment: argmin squared euclidean distance, computed as
  ``v·v + c·c − 2·v·c`` with every dot product accumulated in element
  order (bit-identical to DuckDB's list_dot_product), cell_id
  tie-break;
- update: per-dimension centroid means in EXACT integer space — each
  coordinate is scaled to int64 micro-units before summing, so the new
  centroids are identical at any parallelism and in any engine.

Scale shape: k centroids broadcast to the scan for assignment (one
narrow pass per iteration, no shuffle of the vectors); the update
shuffles only (cell, dim, scaled-int) triples — k·dim groups. Iteration
count is fixed (no convergence-check collect in the plan); each
iteration adds one broadcast join + one small aggregation to the DAG.

Reference: the KNIME k-Means node (org.knime.base.node.mine.cluster)
runs on the columnar backend; this is the distributed re-expression,
not a port.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.similarity import dot

__all__ = ["kmeans_lite", "hash_seed_centroids", "assign_cells", "diverse_sample"]


def _sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def hash_seed_centroids(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    corpus_count: int | None = None,
    salt: str = "kmeans-seeds",
) -> DataFrame:
    """Deterministic md5 hash-sample of k seed rows → (cell_id, __c)
    double-vector centroids. Partitioning-independent and engine-
    reproducible (same scheme as similarity.ivf_topk); no global sort —
    the orderBy+limit runs on the ~4k oversampled survivors only."""
    from knime_core_columnar_spark.operators.sampling import _BUCKETS, hash_bucket

    n = corpus_count if corpus_count is not None else df.count()
    thr = min(_BUCKETS, int(math.floor((4.0 * k * _BUCKETS) / max(n, 1) + 0.5)))
    h = hash_bucket([id_col], salt=salt)
    return (
        df.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .filter(F.col("__h") <= thr)
        .orderBy("__h", id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("cell_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__c"),
        )
    )


def assign_cells(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """One Lloyd ASSIGNMENT round: per-row argmin squared euclidean
    distance over the broadcast centroid array (struct ordering = dist
    asc, cell_id asc tie-break) — no window, no shuffle of the vectors.

    ``vecs`` must carry (id_col, __v double-vector, __vv = |v|²);
    ``cents`` carries (cell_id, __c). Returns (id_col, cell_id, __v)."""
    cc = cents.select("cell_id", "__c", _sq_norm(F.col("__c")).alias("__cc"))
    carr = cc.agg(F.collect_list(F.struct("cell_id", "__c", "__cc")).alias("__cs"))
    best = F.array_min(
        F.transform(
            F.col("__cs"),
            lambda s: F.struct(
                (
                    F.col("__vv") + s["__cc"] - 2 * dot(F.col("__v"), s["__c"])
                ).alias("d"),
                s["cell_id"].alias("cell_id"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(carr))
        .withColumn("__best", best)
        .select(id_col, F.col("__best.cell_id").alias("cell_id"), "__v")
    )


def _lloyd(
    df: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    corpus_count: int | None,
):
    """The shared fixed-iteration Lloyd loop: returns (assigned, cents)
    where ``assigned`` is (id, __v, __vv, cell_id) after the LAST
    assignment and ``cents`` the final updated centroids."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    cents = hash_seed_centroids(df, k, id_col, vec_col, corpus_count)
    vecs = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _sq_norm(F.col(vec_col)).alias("__vv"),
    )
    assigned = vecs  # rebound below; iters >= 1 is enforced above
    for _ in range(iters):
        # per-iteration cost: one broadcast argmin scan (assign_cells)
        # plus the (cell, dim, int64) update aggregation below.
        # posexplode_OUTER + the __d IS NULL / __d = 0 member count
        # fold the cell sizes into the update aggregation, so consumers
        # that need (centroid, n_members) read them off ONE aggregation
        # instead of joining a second corpus-wide count pass against
        # this one (that join would duplicate the whole iteration chain
        # in the physical plan — every scan and argmin twice). Members
        # with an empty/null vector emit a single (null, null) dim row:
        # they count toward __n_members but never contribute a dim
        # group, and a cell whose members are ALL empty stays absent
        # via the size() filter.
        assigned = assign_cells(vecs, cents, id_col)
        dims = assigned.select(
            "cell_id", F.posexplode_outer("__v").alias("__d", "__x")
        ).select(
            "cell_id",
            "__d",
            F.round(F.col("__x").cast("double") * 1_000_000, 0)
            .cast("long")
            .alias("__x6"),
        )
        per_dim = dims.groupBy("cell_id", "__d").agg(
            F.round(
                F.sum("__x6").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("__m"),
            F.count(F.lit(1)).alias("__dn"),
        )
        cents = (
            per_dim.groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__d").isNotNull(),
                                F.struct("__d", "__m"),
                            )
                        )
                    ),
                    lambda s: s["__m"],
                ).alias("__c"),
                F.sum(
                    F.when(
                        F.col("__d").isNull() | (F.col("__d") == 0),
                        F.col("__dn"),
                    )
                ).alias("__n_members"),
            )
            .filter(F.size("__c") > 0)
        )
    return assigned, cents


def diverse_sample(
    df: DataFrame,
    k: int = 8,
    n_per_cell: int = 10,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    salt: str = "diverse",
) -> DataFrame:
    """Coverage-balanced subset selection over an embedding column:
    cluster the corpus with the deterministic Lloyd loop, then take
    ``n_per_cell`` rows from EVERY cell (salted-hash order, id
    tie-break) — so the sample spans the embedding space instead of
    mirroring its density. The diversity-sampling step of SFT/eval set
    construction: a uniform sample over-represents the dominant mode,
    this one guarantees every discovered mode contributes.

    Scale shape: the Lloyd loop's broadcast-argmin scans (vectors never
    shuffle for assignment) plus ONE cell-partitioned window for the
    pick — k cells, so the window partitions are corpus/k-sized and the
    pick is WindowGroupLimit-eligible when filtered on rank. Returns
    (id_col, cell_id, rank_in_cell), k·n_per_cell rows at most."""
    from pyspark.sql import Window

    from knime_core_columnar_spark.operators.text import keyed_hash32

    assigned, _ = _lloyd(df, k, iters, id_col, vec_col, corpus_count)
    order_key = keyed_hash32(
        F.lit(salt), F.col(id_col).cast("string")
    )
    w = Window.partitionBy("cell_id").orderBy(order_key, F.col(id_col))
    return (
        assigned.withColumn("rank_in_cell", F.row_number().over(w))
        .filter(F.col("rank_in_cell") <= n_per_cell)
        .select(id_col, "cell_id", F.col("rank_in_cell").cast("long").alias("rank_in_cell"))
    )


def kmeans_lite(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> DataFrame:
    """Run ``iters`` fixed Lloyd iterations; return one row per
    non-empty cluster: ``cell_id`` (the seed row's id), ``n_members``
    (last assignment), and ``centroid_norm`` (L2 norm of the final
    updated centroid, rounded to 6 decimals).

    Clusters that lose all members in an assignment round disappear
    (standard Lloyd behavior without re-seeding) — deterministic in
    both engines.

    ``corpus_count`` sizes the seed-sample threshold; pass it when the
    row count is already known (catalog stats, a prior count) to skip
    the one up-front counting scan — it need only be approximate to
    within ~2× for the 4·k oversample to land."""
    _assigned, cents = _lloyd(df, k, iters, id_col, vec_col, corpus_count)
    # n_members rides the final update aggregation (see _lloyd), so no
    # second sizes pass re-runs the iteration chain. The isNotNull
    # filter drops a null cell — possible only when the seed sample
    # came up empty — as a USING-key join on cell_id would.
    return cents.filter(F.col("cell_id").isNotNull()).select(
        "cell_id",
        F.col("__n_members").cast("long").alias("n_members"),
        F.round(F.sqrt(_sq_norm(F.col("__c"))), 6).alias("centroid_norm"),
    )

"""Operator-semantics tests for the ColumnarTable algebra — modeled on the
reference's ColumnarVirtualTableTest (SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knime_core_columnar_spark.schema import ROW_KEY, merge_schemas, promote_types
from knime_core_columnar_spark.table import (
    ColumnarTable,
    DuplicateRowKeyError,
    RowIdPolicy,
)


@pytest.fixture()
def small(spark):
    df = spark.createDataFrame(
        [(f"Row{i}", i, float(i) * 0.5, f"v{i % 3}") for i in range(10)],
        "k string, a int, b double, s string",
    )
    return ColumnarTable.from_dataframe(df.drop("k"), key_expr=F.concat(F.lit("Row"), F.col("a")))


def test_row_key_first(small):
    assert small.df.columns[0] == ROW_KEY
    assert small.columns == ["a", "b", "s"]


def test_select_reorder_duplicate(small):
    t = small.select_columns("b", "a", "a")
    assert t.columns == ["b", "a", "a_1"]
    row = t.df.orderBy("a").head()
    assert row["a"] == row["a_1"]


def test_drop_keep(small):
    assert small.drop_columns("b").columns == ["a", "s"]
    assert small.keep_only_columns("s", "a").columns == ["a", "s"]  # original order


def test_filter_slice(small):
    assert small.filter_rows("a >= 5").count() == 5
    sl = small.slice(2, 5, order_by=[F.col("a")])
    assert [r["a"] for r in sl.df.orderBy("a").collect()] == [2, 3, 4]


def test_map_append_replace(small):
    t = small.append_map({"c": F.col("a") + 1}).replace_map("b", F.col("b") * 2)
    rows = {r[ROW_KEY]: r for r in t.df.collect()}
    assert rows["Row3"]["c"] == 4 and rows["Row3"]["b"] == 3.0
    m = small.map({"x": "a * 10"})
    assert m.columns == ["x"]


def test_append_row_index_offset(small):
    t = small.append_row_index("idx", offset=7, order_by=[F.col("a")])
    rows = t.df.orderBy("a").collect()
    assert [r["idx"] for r in rows] == list(range(7, 17))


def test_zip_with_index(small):
    t = small.zip_with_index("idx")
    vals = sorted(r["idx"] for r in t.df.collect())
    assert vals == list(range(10))


def test_append_missing_value_columns(small):
    t = small.append_missing_value_columns({"z": T.LongType()})
    assert t.df.schema["z"].dataType == T.LongType()
    assert t.df.filter(F.col("z").isNull()).count() == 10


def test_hstack_append(spark, small):
    right_df = small.df.select(ROW_KEY, (F.col("a") * 100).alias("big"))
    right = ColumnarTable(right_df)
    t = small.append([right])
    assert t.columns == ["a", "b", "s", "big"]
    row = t.df.filter(F.col(ROW_KEY) == "Row4").head()
    assert row["big"] == 400


def test_hstack_name_collision(small):
    t = small.append([small], validate=False)
    assert t.columns == ["a", "b", "s", "a_1", "b_1", "s_1"]


def test_hstack_validate_rejects_non_bool(small):
    with pytest.raises(ValueError, match="validate must be True or False"):
        small.append([small], validate="eager")


def test_hstack_key_mismatch_lazy(spark, small):
    bad = ColumnarTable(small.df.filter("a < 9").select(ROW_KEY, F.col("a").alias("c")))
    t = small.append([bad])  # plan-embedded assert fires at action time
    with pytest.raises(Exception, match="not present in every input"):
        t.df.collect()


def test_concatenate_upcast_and_missing(spark):
    a = ColumnarTable(
        spark.createDataFrame([("A0", 1, "x")], f"{ROW_KEY} string, x int, y string")
    )
    b = ColumnarTable(
        spark.createDataFrame([("B0", 2.5, True)], f"{ROW_KEY} string, x double, w boolean")
    )
    t = a.concatenate([b])
    assert t.columns == ["x", "y", "w"]
    assert t.df.schema["x"].dataType == T.DoubleType()
    rows = {r[ROW_KEY]: r for r in t.df.collect()}
    assert rows["A0"]["x"] == 1.0 and rows["A0"]["w"] is None
    assert rows["B0"]["y"] is None and rows["B0"]["w"] is True


def test_concatenate_duplicate_fail(spark, small):
    out = small.concatenate([small])  # plan-embedded check fires on action
    with pytest.raises(Exception, match="duplicate RowID"):
        out.df.collect()


def test_concatenate_uniquify(spark, small):
    t = small.concatenate([small, small], row_id_policy=RowIdPolicy.UNIQUIFY_WITH_SUFFIX)
    keys = [r[0] for r in t.df.select(ROW_KEY).collect()]
    assert len(set(keys)) == 30
    # reference scheme: suffix appended repeatedly until unique
    # (ColumnarConcatenater.java:252-292)
    assert "Row0_dup" in keys and "Row0_dup_dup" in keys


def test_concatenate_uniquify_preexisting_dup_keys(spark):
    """A table already containing 'k_dup' collides with the renamed
    second 'k' — the reference reconciles until unique
    (ColumnarConcatenater.java:252-292). The single-pass parking greedy
    must give the exact sequential-reference assignment: k(1)→k,
    k_dup(2)→k_dup, k(3)→k collides→k_dup collides→k_dup_dup."""
    a = ColumnarTable(
        spark.createDataFrame([("k", 1), ("k_dup", 2)], f"{ROW_KEY} string, v int")
    )
    b = ColumnarTable(spark.createDataFrame([("k", 3)], f"{ROW_KEY} string, v int"))
    t = a.concatenate([b], row_id_policy=RowIdPolicy.UNIQUIFY_WITH_SUFFIX)
    rows = {r[ROW_KEY]: r["v"] for r in t.df.collect()}
    assert rows == {"k": 1, "k_dup": 2, "k_dup_dup": 3}


def test_concatenate_uniquify_pathological_single_pass(spark):
    """Deep pre-existing suffix chains resolve in ONE pass: no driver
    convergence loop — exactly two jobs run (the pattern probe and the
    final collect; the old path added up to 10 isEmpty() probes)."""
    a = ColumnarTable(
        spark.createDataFrame(
            [("k", 1), ("k_dup", 2), ("k_dup_dup", 3), ("z_dup_dup", 9)],
            f"{ROW_KEY} string, v int",
        )
    )
    b = ColumnarTable(
        spark.createDataFrame(
            [("k", 4), ("k_dup", 5), ("z", 8)], f"{ROW_KEY} string, v int"
        )
    )
    sc = spark.sparkContext
    sc.setJobGroup("uniq-pathological", "job-count pin")
    t = a.concatenate([b], row_id_policy=RowIdPolicy.UNIQUIFY_WITH_SUFFIX)
    rows = {r[ROW_KEY]: r["v"] for r in t.df.collect()}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("uniq-pathological"))
    sc.setJobGroup(None, None)
    # sequential reference greedy: k→k, k_dup→k_dup, k_dup_dup→k_dup_dup,
    # z_dup_dup→z_dup_dup, k(4)→slots 0,1,2 used→k_dup_dup_dup,
    # k_dup(5)→slots 1,2,3 used→k_dup_dup_dup_dup, z(8)→z
    assert rows == {
        "k": 1, "k_dup": 2, "k_dup_dup": 3, "z_dup_dup": 9,
        "k_dup_dup_dup": 4, "k_dup_dup_dup_dup": 5, "z": 8,
    }
    assert len(set(rows)) == 7
    # one probe + one collect; the greedy itself is plan-embedded
    assert n_jobs <= 3, f"expected <=3 jobs, saw {n_jobs}"


def test_concatenate_regenerate(spark, small):
    t = small.concatenate([small], row_id_policy=RowIdPolicy.REGENERATE)
    keys = sorted(r[0] for r in t.df.select(ROW_KEY).collect())
    assert keys == sorted(f"Row{i}" for i in range(20))


def test_cast_columns(small):
    t = small.cast_columns({"a": "long", "b": "string"})
    assert t.df.schema["a"].dataType == T.LongType()
    assert t.df.schema["b"].dataType == T.StringType()


def test_rename_and_metadata(small):
    t = small.rename_columns({"a": "alpha"}).update_metadata(
        "alpha", {"knime.logical_type": "IntValueFactory"}
    )
    assert "alpha" in t.columns
    assert t.df.schema["alpha"].metadata["knime.logical_type"] == "IntValueFactory"


def test_promote_types():
    assert promote_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert promote_types(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert promote_types(T.IntegerType(), T.StringType()) == T.StringType()
    with pytest.raises(TypeError):
        promote_types(T.IntegerType(), T.StringType(), allow_varying=False)


def test_merge_schemas_nullability():
    s1 = T.StructType([T.StructField("x", T.IntegerType(), False)])
    s2 = T.StructType([T.StructField("y", T.StringType(), False)])
    m = merge_schemas([s1, s2])
    assert m["x"].nullable and m["y"].nullable  # absent from one input


def test_observe(small):
    t = small.observe("metrics", F.count(F.lit(1)).alias("rows"))
    t.df.collect()


def test_check_duplicate_keys_ok(small):
    small.check_duplicate_keys()  # unique → no raise


def test_materialize_roundtrip(tmp_path, small):
    t = small.materialize(str(tmp_path / "mat.parquet"))
    assert t.count() == 10 and t.df.columns[0] == ROW_KEY


@pytest.mark.parametrize("mode", ["error", "overwrite"])
def test_materialize_reads_back_without_inference(spark, tmp_path, small,
                                                  jobs_fired, mode):
    """After error/overwrite the read-back takes the frame's schema: the
    materialization fires the write's jobs and no schema-inference job."""
    _, write_jobs = jobs_fired(
        lambda: small.df.write.mode(mode).parquet(str(tmp_path / "w.parquet")))
    path = str(tmp_path / "mat.parquet")
    t, jobs = jobs_fired(lambda: small.materialize(path, mode))
    assert jobs == write_jobs
    assert t.df.schema == spark.read.parquet(path).schema
    assert sorted(t.df.collect()) == sorted(small.df.collect())


def test_materialize_append_reads_every_file(tmp_path, small):
    path = str(tmp_path / "mat.parquet")
    small.materialize(path)
    t = small.materialize(path, "append")
    assert t.count() == 20

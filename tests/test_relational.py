"""Tests for the relational operator wrappers and domain statistics."""

import pytest
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators import relational as R
from knime_core_columnar_spark.operators.domain import (
    ColumnDomain,
    attach_domains,
    compute_domains,
)
from knime_core_columnar_spark.schema import (
    DOMAIN_MAX_KEY,
    DOMAIN_MIN_KEY,
    DOMAIN_VALUES_KEY,
    ROW_KEY,
)
from knime_core_columnar_spark.table import ColumnarTable


@pytest.fixture()
def left(spark):
    return ColumnarTable(
        spark.createDataFrame(
            [("L1", 1, "a"), ("L2", 2, "b"), ("L3", 3, "c")],
            f"{ROW_KEY} string, id int, v string",
        )
    )


@pytest.fixture()
def right(spark):
    return ColumnarTable(
        spark.createDataFrame(
            [("R1", 1, 10.0), ("R2", 1, 20.0), ("R3", 9, 90.0)],
            f"{ROW_KEY} string, id int, w double",
        )
    )


def test_join_inner_concat_key(left, right):
    res = R.join(left, right, on=["id"], how="inner")
    rows = res.df.collect()
    assert len(rows) == 2
    keys = {r[ROW_KEY] for r in rows}
    assert keys == {"L1_R1", "L1_R2"}
    assert res.columns == ["id", "v", "id_r", "w"]


def test_join_outer_keeps_unmatched_keys(left, right):
    res = R.join(left, right, on=["id"], how="full")
    keys = {r[ROW_KEY] for r in res.df.collect()}
    assert "L2" in keys and "L3" in keys and "R3" in keys


def test_join_semi_anti(left, right):
    semi = R.join(left, right, on=["id"], how="left_semi")
    assert {r["id"] for r in semi.df.collect()} == {1}
    assert semi.columns == ["id", "v"]
    anti = R.join(left, right, on=["id"], how="left_anti")
    assert {r["id"] for r in anti.df.collect()} == {2, 3}


def test_aggregate_row_key(spark, right):
    res = R.aggregate(right, ["id"], {"n": F.count(F.lit(1))})
    rows = {r[ROW_KEY]: r["n"] for r in res.df.collect()}
    assert rows == {"1": 2, "9": 1}


def test_aggregate_rollup_null_marker(spark, right):
    res = R.aggregate(right, ["id"], {"n": F.count(F.lit(1))}, grouping="rollup")
    keys = {r[ROW_KEY] for r in res.df.collect()}
    assert "?" in keys  # grand-total row


def test_intersect_except(spark, left):
    other = ColumnarTable(
        spark.createDataFrame([("X1", 1, "a"), ("X2", 5, "e")], f"{ROW_KEY} string, id int, v string")
    )
    both = R.intersect(left, other)
    assert [(r["id"], r["v"]) for r in both.df.collect()] == [(1, "a")]
    diff = R.except_(left, other)
    assert {r["id"] for r in diff.df.collect()} == {2, 3}


def test_sort_topk(left):
    res = R.sort(left, [F.col("id").desc()], limit=2)
    assert [r["id"] for r in res.df.collect()] == [3, 2]


def test_distinct_min_key(spark):
    t = ColumnarTable(
        spark.createDataFrame(
            [("K2", 1), ("K1", 1), ("K3", 2)], f"{ROW_KEY} string, g int"
        )
    )
    res = R.distinct(t, subset=["g"])
    rows = {r["g"]: r[ROW_KEY] for r in res.df.collect()}
    assert rows == {1: "K1", 2: "K3"}  # min RowID wins, deterministic


def test_window_apply(spark, right):
    res = R.window_apply(
        right,
        partition_by=["id"],
        order_by=[F.col("w")],
        exprs={"rn": lambda w: F.row_number().over(w)},
    )
    rows = {r[ROW_KEY]: r["rn"] for r in res.df.collect()}
    assert rows == {"R1": 1, "R2": 2, "R3": 1}


def test_compute_domains(spark):
    t = ColumnarTable(
        spark.createDataFrame(
            [("A", 1, "x"), ("B", 5, "y"), ("C", 3, None)],
            f"{ROW_KEY} string, n int, s string",
        )
    )
    d = compute_domains(t)
    assert d["n"].min == 1 and d["n"].max == 5
    assert d["s"].values == ["x", "y"]  # nulls excluded, sorted


def test_domain_nominal_cap(spark):
    t = ColumnarTable(
        spark.createDataFrame(
            [(f"R{i}", f"v{i}") for i in range(100)], f"{ROW_KEY} string, s string"
        )
    )
    d = compute_domains(t, max_nominal_values=60)
    assert d["s"].values is None  # over cap → invalid, like the reference


def test_domain_initial_merge(spark):
    """initializeDomains semantics (DomainWritable seeded via
    update(DataColumnDomain); DefaultDomainWritableConfig.java:155-162)."""
    from knime_core_columnar_spark.operators.domain import ColumnDomain

    t = ColumnarTable(
        spark.createDataFrame(
            [("A", 3, "x"), ("B", 5, "y")], f"{ROW_KEY} string, n int, s string"
        )
    )
    # bounded: union of initial and computed bounds
    d = compute_domains(t, initial={"n": ColumnDomain(min=-7, max=4)})
    assert d["n"].min == -7 and d["n"].max == 5
    # nominal: initial values merged in
    d = compute_domains(t, initial={"s": ColumnDomain(values=["a", "x"])})
    assert d["s"].values == ["a", "x", "y"]
    # initial values=None (unknown domain) is a no-op, like update() with
    # a valueless domain
    d = compute_domains(t, initial={"s": ColumnDomain(values=None)})
    assert d["s"].values == ["x", "y"]


def test_domain_initial_raises_cap(spark):
    """Cap is raised to the initial set size (max(cap, |initial|)) —
    a seeded domain larger than maxNumValues must survive."""
    from knime_core_columnar_spark.operators.domain import ColumnDomain

    t = ColumnarTable(
        spark.createDataFrame(
            [(f"R{i}", f"v{i:02d}") for i in range(3)], f"{ROW_KEY} string, s string"
        )
    )
    seed = [f"w{i:02d}" for i in range(10)]
    d = compute_domains(
        t, max_nominal_values=5, initial={"s": ColumnDomain(values=seed)}
    )
    # effective cap = max(5, 10) = 10; merged = 10 seed + 3 data = 13 > 10
    assert d["s"].values is None
    seed7 = [f"w{i:02d}" for i in range(7)]
    d = compute_domains(
        t, max_nominal_values=5, initial={"s": ColumnDomain(values=seed7)}
    )
    # effective cap = 7; merged = 7 + 3 = 10 > 7 → invalid
    assert d["s"].values is None
    d = compute_domains(
        t, max_nominal_values=10, initial={"s": ColumnDomain(values=seed7)}
    )
    # cap 10, merged 10 → exactly at cap, valid
    assert d["s"].values == sorted(seed7 + ["v00", "v01", "v02"])


def test_multi_slice(spark):
    t = ColumnarTable(
        spark.createDataFrame(
            [(f"R{i}", i, f"s{i}") for i in range(10)],
            f"{ROW_KEY} string, n int, s string",
        )
    )
    s0, s1 = t.multi_slice(
        [(["n"], (0, 3)), (["s"], (5, 8))], order_by=[F.col("n")]
    )
    assert s0.columns == ["n"] and s1.columns == ["s"]
    assert ROW_KEY in s0.df.columns and ROW_KEY in s1.df.columns
    assert [r["n"] for r in s0.df.orderBy("n").collect()] == [0, 1, 2]
    assert [r["s"] for r in s1.df.orderBy("s").collect()] == ["s5", "s6", "s7"]
    # all-columns / all-rows slices pass through
    (full,) = t.multi_slice([(None, None)])
    assert full.df.count() == 10 and full.columns == ["n", "s"]
    assert s0.df.count() == 3  # slices stay lazy and re-executable


def test_multi_slice_persists_nothing(spark, tmp_path):
    """Slices are lazy views of the parent: building and collecting them
    caches nothing, and each slice's Parquet scan reads only the columns
    that slice selects (plus the key its RowID and order derive from)."""
    import re

    path = str(tmp_path / "wide.parquet")
    spark.createDataFrame(
        [(i, i * 10, f"b{i}", float(i)) for i in range(20)],
        "k long, a long, b string, c double",
    ).write.parquet(path)
    t = ColumnarTable.from_dataframe(spark.read.parquet(path), key_columns=["k"])
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    slices = t.multi_slice(
        [(["k", "a"], (0, 5)), (["k", "b"], (5, 12))], order_by=[F.col("k")]
    )
    assert [len(s.df.collect()) for s in slices] == [5, 7]
    assert set(jsc.getPersistentRDDs().keySet()) == before
    for s, own in zip(slices, [{"k", "a"}, {"k", "b"}]):
        plan = s.df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, plan
        for fields in schemas:
            assert {f.split(":")[0] for f in fields.split(",")} == own, plan


def test_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    upd = spark.createDataFrame(
        [(2, None, 99.0), (4, "d", 40.0)], "k int, s string, v double"
    )
    out = {r["k"]: (r["s"], r["v"]) for r in R.upsert(base, upd, ["k"]).collect()}
    assert out[1] == ("a", 10.0)  # untouched base row
    assert out[2] == (None, 99.0)  # update wins wholesale — NULL survives
    assert out[3] == ("c", 30.0)
    assert out[4] == ("d", 40.0)  # pure insert
    assert len(out) == 4


def test_attach_domains(spark):
    t = ColumnarTable(
        spark.createDataFrame([("A", 1, "x")], f"{ROW_KEY} string, n int, s string")
    )
    t2 = attach_domains(t, compute_domains(t))
    md_n = t2.df.schema["n"].metadata
    assert md_n[DOMAIN_MIN_KEY] == "1" and md_n[DOMAIN_MAX_KEY] == "1"
    assert t2.df.schema["s"].metadata[DOMAIN_VALUES_KEY] == ["x"]


def test_upsert_null_keys(spark):
    """Null-safe keys all the way through: a NULL-keyed update must
    match a NULL-keyed base row (update wins), and a NULL-keyed pure
    insert must keep its payload."""
    base = spark.createDataFrame([(1, "a", 10.0)], "k int, s string, v double")
    upd = spark.createDataFrame([(None, "x", 99.0)], "k int, s string, v double")
    out = sorted(map(tuple, R.upsert(base, upd, ["k"]).collect()),
                 key=lambda t: (t[0] is None, t[0]))
    assert out == [(1, "a", 10.0), (None, "x", 99.0)]

    base2 = spark.createDataFrame([(None, "old", 1.0)], "k int, s string, v double")
    upd2 = spark.createDataFrame([(None, "new", 2.0)], "k int, s string, v double")
    assert [tuple(r) for r in R.upsert(base2, upd2, ["k"]).collect()] == [
        (None, "new", 2.0)
    ]


def test_diff_tables(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(2, "B"), (3, None), (4, "d"), (5, "e")], "k int, v string"
    )
    out = {r["k"]: r["change"] for r in R.diff_tables(old, new, ["k"]).collect()}
    assert out == {1: "removed", 2: "changed", 3: "unchanged", 4: "unchanged", 5: "added"}


def test_spearman_known_values(spark):
    """The PRODUCTION spearman operator: perfectly monotone -> rho 1,
    perfectly inverse -> rho -1, ties -> average ranks, constant
    column -> NULL (nullif guard, not Inf/NaN)."""
    from knime_core_columnar_spark.operators.relational import spearman

    rows = (
        [("g", float(i), float(i * 2)) for i in range(1, 6)]
        + [("h", float(i), float(10 - i)) for i in range(1, 6)]
        + [("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0)]  # ties in x
        + [("c", float(i), 7.0) for i in range(1, 5)]  # constant y
    )
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["k"]: r["spearman"] for r in spearman(df, "x", "y", ["k"]).collect()}
    assert got["g"] == 1.0 and got["h"] == -1.0
    assert got["t"] is not None and 0.5 < got["t"] < 1.0  # tied pair averaged
    assert got["c"] is None  # zero variance -> NULL, no Inf


def test_equal_width_binning_top_edge(spark, sf_dir):
    """v == max lands in the LAST bin (closed top edge), not bin 10."""
    from knime_core_columnar_spark import catalog

    out = catalog.QUERIES["equal_width_binning"](spark, sf_dir)
    rows = {r["bin"]: r for r in out.collect()}
    assert max(rows) == 9 and min(rows) >= 0
    assert sum(r["n"] for r in rows.values()) > 0


def test_table_fingerprint_invariance_and_sensitivity(spark):
    from knime_core_columnar_spark.operators.relational import table_fingerprint

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5), (3, None, 7)], "k int, s string, v int"
    )
    base = sorted(map(tuple, table_fingerprint(df).collect()))
    # order/partitioning independent
    assert base == sorted(map(tuple, table_fingerprint(df.repartition(7)).collect()))
    assert base == sorted(
        map(tuple, table_fingerprint(df.orderBy(F.desc("k"))).collect())
    )
    rows = {r[0]: (r[1], r[2]) for r in base}
    assert rows["__table__"][0] == 3  # row count rides in n_nulls
    assert rows["s"][0] == 1 and rows["v"][0] == 1
    # any single cell change must move the table checksum and that column's
    changed = spark.createDataFrame(
        [(1, "a", None), (2, "B", 5), (3, None, 7)], "k int, s string, v int"
    )
    crows = {r[0]: (r[1], r[2]) for r in table_fingerprint(changed).collect()}
    assert crows["__table__"][1] != rows["__table__"][1]
    assert crows["s"][1] != rows["s"][1]
    assert crows["k"][1] == rows["k"][1]  # untouched column unchanged
    # NULL is distinct from empty string
    empties = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5), (3, "", 7)], "k int, s string, v int"
    )
    erows = {r[0]: (r[1], r[2]) for r in table_fingerprint(empties).collect()}
    assert erows["s"] != rows["s"]


def test_table_fingerprint_empty_table(spark):
    from knime_core_columnar_spark.operators.relational import table_fingerprint

    df = spark.createDataFrame([], "k int, s string")
    rows = {r[0]: (r[1], r[2]) for r in table_fingerprint(df).collect()}
    assert rows == {"__table__": (0, 0), "k": (0, 0), "s": (0, 0)}


def test_fuzzy_match_names_count_reconstruction(spark, tmp_path):
    """Hand-computed check of the aggregate-through-the-join counting in
    the catalog's fuzzy_match_names: record-level n_pairs/n_left must
    reconstruct exactly from name-level aggregates — including the
    neighbor-max rule that makes a multi-record name's max-id record a
    LEFT only when a verified neighbor name has a bigger id."""
    from knime_core_columnar_spark import catalog

    rows = [
        # "red apple" x3 -> clique pairs (1,2),(1,3),(2,3)
        (1, "red apple"), (2, "red apple"), (3, "red apple"),
        # "ted apple" (lev 1 vs "red apple", same block) -> cross pairs
        # (1,10),(2,10),(3,10); id 10 > maxid(red apple)=3, so record 3
        # is also a left via the cross pair
        (10, "ted apple"),
        # same block, length gap > 2 -> never verified
        (20, "navy zzzz apple"),
        # lone name in its own block -> block must not appear
        (30, "blue rock"),
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = {
        r["block"]: (r["n_pairs"], r["n_left"])
        for r in catalog.QUERIES["fuzzy_match_names"](
            spark, str(tmp_path)
        ).collect()
    }
    # record-level ground truth: 3 same-name + 3 cross pairs, lefts {1,2,3}
    assert got == {"apple": (6, 3)}

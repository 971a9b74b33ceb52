"""partsupp TPC-H patterns (q2/q9/q11/q16/q20) with the IN-QUERY
synthesized partsupp (round-7: /root/testdata ships no partsupp table,
so both engine and oracle derive it deterministically from part keys +
the supplier count — see catalog/tpch.py).

Two legs:
1. HAND CASE independent of the SQL replay: the synthesized table must
   match a plain-python fixture built with the same formula (the
   pre-round-7 parquet fixture construction, kept verbatim).
2. Engine-vs-oracle on the UNMODIFIED sf0.001 dir — exactly what the
   driver runs (no partsupp.parquet anywhere).
"""

import importlib.util
import os

import pytest

from knime_core_columnar_spark import catalog

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PARTSUPP_NAMES = [
    "q2_min_cost_supplier", "q9_profit_by_nation_year",
    "q11_important_stock", "q16_supplier_counts", "q20_excess_inventory",
]

_spec = importlib.util.spec_from_file_location(
    "kccs_check", os.path.join(os.path.dirname(__file__), "..", "tools", "check.py")
)
_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="testdata not present"
)


def _fixture_partsupp(part_keys, n_supp: int):
    """The plain-python replica: two suppliers per part, key-derived
    attributes, (p, s) dedup keeping first — the parquet-fixture
    formula this test file used before round 7, applied to the ACTUAL
    part keys (testdata part keys are 0-based)."""
    rows = []
    for p in part_keys:
        for k in range(2):
            s = (p * 3 + k * 7) % n_supp + 1
            rows.append(
                (p, s, (p * 13 + s) % 1000, round(((p * 17 + s) % 5000) / 100.0, 2))
            )
    seen, uniq = set(), []
    for r in rows:
        if r[:2] not in seen:
            seen.add(r[:2])
            uniq.append(r)
    return uniq


def test_synth_partsupp_matches_python_fixture(spark):
    import pyarrow.parquet as pq

    from knime_core_columnar_spark.catalog.tpch import _synth_partsupp

    part_keys = pq.read_table(
        f"{SF}/part.parquet", columns=["p_partkey"]
    )["p_partkey"].to_pylist()
    n_supp = pq.read_metadata(f"{SF}/supplier.parquet").num_rows
    want = sorted(_fixture_partsupp(part_keys, n_supp))
    got = sorted(
        (r["ps_partkey"], r["ps_suppkey"], r["ps_availqty"], r["ps_supplycost"])
        for r in _synth_partsupp(spark, SF).collect()
    )
    assert len(got) == 2 * len(part_keys)  # S=10: no (p, s) collisions
    assert got == want


def test_synth_partsupp_no_shuffle(spark):
    """The derived dimension must be one codegen projection over part —
    no Exchange, no join beyond the broadcast 2-row literal frame."""
    from knime_core_columnar_spark.catalog.tpch import _synth_partsupp

    plan = spark._jvm.PythonSQLUtils.explainString(
        _synth_partsupp(spark, SF)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", PARTSUPP_NAMES)
def test_partsupp_pattern_matches_oracle(spark, duck, name):
    fn = catalog.QUERIES[name]
    sql = catalog.ORACLES[name]
    assert not _check.oracle_type_problems(duck, sql), "oracle emits HUGEINT"
    spdf = fn(spark, SF).toPandas()
    opdf = duck.execute(sql).fetchdf()
    assert len(spdf) == len(opdf), f"{name}: rowcount {len(spdf)} vs {len(opdf)}"
    assert len(spdf) > 0, f"{name}: empty result proves nothing"
    assert sorted(spdf.columns) == sorted(opdf.columns)
    sm = _check.frame_to_multiset(spdf)
    om = _check.frame_to_multiset(opdf)
    assert sm == om, f"{name}: first diff {next((a, b) for a, b in zip(sm, om) if a != b)}"

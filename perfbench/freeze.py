#!/usr/bin/env python3
"""Freeze the expected outputs the benchmark checks against.

Usage: python3 perfbench/freeze.py DATA_DIR

For every catalog query the workloads run, compare the Spark output with
its DuckDB oracle exactly as ``tools/check.py`` does, and only when they
agree record the row count and checksum of the benchmark's checksum
action. Also records the row count and checksum of each store_roundtrip
source table. The results replace the data directory's entry (keyed by
its basename) in ``perfbench/expected.json``.

The oracle comparison is far too slow for timed runs (minutes for some
queries at sf0.1), which is why its verdict is frozen here.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


def _load_check():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_problems(check, con, spark, fn, sql, data_dir) -> list[str]:
    """tools/check.py's comparison for one query: row count, column
    names and the order-insensitive multiset of dtype-tagged values."""
    spdf = fn(spark, data_dir).toPandas()
    bad = check.oracle_type_problems(con, sql)
    if bad:
        return [f"oracle emits {bad}"]
    opdf = con.execute(sql).fetchdf()
    if len(spdf) != len(opdf):
        return [f"rowcount spark={len(spdf)} oracle={len(opdf)}"]
    if sorted(spdf.columns) != sorted(opdf.columns):
        return ["columns differ"]
    if check.frame_to_multiset(spdf) != check.frame_to_multiset(opdf):
        return ["values differ"]
    return []


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    data_dir = sys.argv[1].rstrip("/")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))

    import duckdb

    from knime_core_columnar_spark import catalog
    from knime_core_columnar_spark.session import get_spark

    check = _load_check()
    spark = get_spark(app_name="perfbench-freeze")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")

    queries: dict[str, dict] = {}
    tables: dict[str, dict] = {}
    names = [op for name, ops in wl.WORKLOADS.items()
             if name != "store_roundtrip" for op in ops]
    failed = []
    for name in names:
        fn = catalog.QUERIES[name]
        problems = _oracle_problems(check, con, spark, fn,
                                    catalog.ORACLES[name], data_dir)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: {problems}", flush=True)
            continue
        row = wl.checksum_frame(fn(spark, data_dir)).collect()[0]
        queries[name] = {"rows": row["rows"], "checksum": row["checksum"]}
        print(f"ok   {name} {queries[name]}", flush=True)
    for table in wl.STORE_TABLES:
        row = wl.checksum_frame(
            wl.source_table(spark, data_dir, table).df).collect()[0]
        tables[table] = {"rows": row["rows"], "checksum": row["checksum"]}
        print(f"ok   table {table} {tables[table]}", flush=True)

    with open(EXPECTED) as f:
        expected = json.load(f)
    expected[os.path.basename(data_dir)] = {"queries": queries,
                                            "tables": tables}
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""Catalog table resolution: one cached ``TableMeta`` per table version.

``_t`` reads a catalog table with the schema from ``_table_meta`` instead
of letting Spark infer it on every read; row counts, row-group counts and
byte sizes come from the same entry. These tests pin that a repeated read
fires no Spark job, that rewriting a file in place (which leaves a
directory's own mtime alone) is seen by the metadata and by the
derived-artifact tag, that the metadata matches the footers and the
file sizes, and that ``_tw`` widens only large tables with too few row
groups.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import knime_core_columnar_spark.catalog._registry as reg

TABLES = ["customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier"]


@pytest.mark.parametrize("name", TABLES)
def test_repeated_read_fires_no_job(spark, sf_dir, name, monkeypatch,
                                    jobs_fired):
    monkeypatch.setattr(reg, "_TABLE_META", {})
    first, miss_jobs = jobs_fired(lambda: reg._t(spark, sf_dir, name))
    df, hit_jobs = jobs_fired(lambda: reg._t(spark, sf_dir, name))
    # the miss infers the schema once; that it shows up proves the
    # counter sees construction-time jobs at all
    assert miss_jobs >= 1
    assert hit_jobs == 0

    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    assert reg._table_meta(spark, sf_dir, name).schema == inferred
    assert df.schema == first.schema
    if name == "events":
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert ([f for f in df.schema if f.name != "ts"]
                == [f for f in inferred if f.name != "ts"])
    else:
        assert df.schema == inferred


def _write_v1(path):
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)


def _write_v2(path):
    pq.write_table(pa.table({
        "a": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "b": pa.array(["p", "q", "r", "s", "t"]),
    }), path)


def _assert_rewrite_seen(spark, sf_dir, name, data_file):
    df = reg._t(spark, sf_dir, name)
    assert df.columns == ["a"]
    assert reg._table_meta(spark, sf_dir, name).rows == 3
    tag = reg._artifact_tag(sf_dir, name)

    _write_v2(data_file)
    df = reg._t(spark, sf_dir, name)
    assert df.columns == ["a", "b"]
    assert reg._table_meta(spark, sf_dir, name).rows == 5
    assert sorted(r.b for r in df.collect()) == ["p", "q", "r", "s", "t"]
    # derived /tmp artifacts are keyed by the same version
    assert reg._artifact_tag(sf_dir, name) != tag


def test_in_place_rewrite_of_single_file_table(spark, tmp_path):
    data_file = tmp_path / "t.parquet"
    _write_v1(data_file)
    _assert_rewrite_seen(spark, str(tmp_path), "t", data_file)


def test_in_place_rewrite_inside_directory_table(spark, tmp_path):
    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    data_file = table_dir / "part-0.parquet"
    _write_v1(data_file)
    dir_mtime = os.stat(table_dir).st_mtime_ns
    _assert_rewrite_seen(spark, str(tmp_path), "t", data_file)
    # the rewrite left the directory's own mtime alone: only the
    # per-file key could have caught it
    assert os.stat(table_dir).st_mtime_ns == dir_mtime


def _numbers(n, start=0):
    return pa.table({"x": pa.array(range(start, start + n), pa.int64())})


def test_metadata_matches_footers_and_sizes(spark, tmp_path):
    pq.write_table(_numbers(1000), tmp_path / "f.parquet",
                   row_group_size=300)
    table_dir = tmp_path / "d.parquet"
    table_dir.mkdir()
    pq.write_table(_numbers(700), table_dir / "part-0.parquet",
                   row_group_size=200)
    pq.write_table(_numbers(500, 700), table_dir / "part-1.parquet",
                   row_group_size=500)
    (table_dir / "_SUCCESS").write_bytes(b"")

    f = reg._table_meta(spark, str(tmp_path), "f")
    footer = pq.ParquetFile(tmp_path / "f.parquet").metadata
    assert (f.rows, f.row_groups) == (footer.num_rows, footer.num_row_groups)
    assert (f.rows, f.row_groups) == (1000, 4)
    assert f.bytes == os.path.getsize(tmp_path / "f.parquet")

    d = reg._table_meta(spark, str(tmp_path), "d")
    footers = [pq.ParquetFile(table_dir / p).metadata
               for p in ("part-0.parquet", "part-1.parquet")]
    assert d.rows == sum(m.num_rows for m in footers) == 1200
    assert d.row_groups == sum(m.num_row_groups for m in footers) == 5
    assert d.bytes == sum(os.path.getsize(os.path.join(r, p))
                          for r, _d, ps in os.walk(table_dir) for p in ps)


def test_unstatable_path_has_no_metadata(spark, tmp_path):
    assert reg._table_meta(spark, str(tmp_path), "absent") == reg.TableMeta(
        None, None, None, None)


def _is_repartitioned(df):
    return "Repartition" in df._jdf.queryExecution().logical().toString()


def test_tw_widens_only_large_single_row_group_tables(spark, tmp_path):
    rng = np.random.default_rng(0)
    big = pa.table({"x": pa.array(rng.integers(0, 2**62, 80_000), pa.int64())})
    pq.write_table(big, tmp_path / "big.parquet", compression="none",
                   row_group_size=len(big))
    pq.write_table(_numbers(100), tmp_path / "small.parquet")

    meta = reg._table_meta(spark, str(tmp_path), "big")
    assert meta.row_groups == 1 and meta.bytes >= 512 * 1024
    par = spark.sparkContext.defaultParallelism
    assert meta.row_groups < max(2, par // 4)

    assert _is_repartitioned(reg._tw(spark, str(tmp_path), "big"))
    assert not _is_repartitioned(reg._tw(spark, str(tmp_path), "small"))

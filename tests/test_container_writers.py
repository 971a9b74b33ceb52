"""Container writers (Arrow IPC, Avro, WARC, WebDataset): the in-task
executor-visibility check and the shapes every export must have.

Each writer creates ``out_dir`` and a uuid marker on the driver
(``sources/fscheck.executor_visible``); every shard-writing task
re-reads the marker before it opens a sink. These tests pin that an
unreachable scheme raises before any Spark job, that a marker the
executors cannot confirm fails every writer on both filesystem tiers
with the named ``RuntimeError`` and leaves nothing behind, that the
check costs no Spark job of its own, and that an empty frame still
exports a directory that reads back.
"""

from __future__ import annotations

import os

import pytest

from knime_core_columnar_spark.sources import fsio
from knime_core_columnar_spark.sources.avro import read_avro_py, write_avro
from knime_core_columnar_spark.sources.fscheck import (
    MARKER_PREFIX,
    OutDirNotVisible,
    check_marker,
    executor_visible,
)
from knime_core_columnar_spark.sources.io import read_arrow_ipc, write_arrow_ipc
from knime_core_columnar_spark.sources.warc import write_warc
from knime_core_columnar_spark.sources.webdataset import write_webdataset
from knime_core_columnar_spark.table import ColumnarTable


def _docs(spark, n=20):
    return spark.createDataFrame(
        [(i, f"http://ex.com/{i}", f"doc {i} body") for i in range(n)],
        "doc_id long, url string, text string",
    ).coalesce(2)


WRITERS = {
    "write_arrow_ipc": lambda df, d: write_arrow_ipc(
        ColumnarTable.from_dataframe(df, key_columns=["doc_id"]), d
    ),
    "write_avro": lambda df, d: write_avro(df, d),
    "write_warc": lambda df, d: write_warc(df, d, n_files=2),
    "write_webdataset": lambda df, d: write_webdataset(
        df, d, key_col="doc_id", n_shards=2
    ),
}


def _dest(tmp_path, tier):
    local = tmp_path / "out"
    return str(local), (str(local) if tier == "plain" else f"file://{local}")


def _markers(local_dir):
    return [f for f in os.listdir(local_dir) if f.startswith(MARKER_PREFIX)]


def test_fscheck_rejects_unreachable_uri_scheme():
    """Schemes pyarrow cannot reach here (no libhdfs, made-up scheme)
    raise on the driver before the block runs."""
    for bad in ("bogus://bucket/exports", "hdfs://nn:8020/exports"):
        with pytest.raises(ValueError, match="pyarrow.fs"):
            with executor_visible(bad):
                pytest.fail("block entered for an unreachable scheme")


@pytest.mark.parametrize("tier", ["plain", "uri"])
def test_fscheck_passes_and_cleans_marker(tmp_path, tier):
    """The driver creates out_dir and the marker, the yielded check
    passes where the marker is visible, and the marker is gone after."""
    local, dest = _dest(tmp_path, tier)
    with executor_visible(dest) as check:
        assert len(_markers(local)) == 1
        check()
    assert os.path.isdir(local)
    assert _markers(local) == []


def test_check_marker_rejects_missing_and_wrong_marker(tmp_path):
    with pytest.raises(OutDirNotVisible, match="FileNotFoundError"):
        check_marker("/nonexistent-mount", f"{MARKER_PREFIX}x", "x")
    fsio.write_shard_bytes(str(tmp_path), f"{MARKER_PREFIX}x", b"other")
    with pytest.raises(OutDirNotVisible, match="driver's token"):
        check_marker(str(tmp_path), f"{MARKER_PREFIX}x", "x")


@pytest.mark.parametrize("tier", ["plain", "uri"])
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_raises_when_marker_differs(spark, tmp_path, monkeypatch,
                                           writer, tier):
    """The driver writes a marker the executors cannot confirm: every
    writer fails inside its write job with the named RuntimeError, before
    any task opens a sink, and removes the marker."""
    real = fsio.write_shard_bytes

    def wrong_marker(out_dir, fname, data):
        if fname.startswith(MARKER_PREFIX):
            data = b"not-the-token"
        return real(out_dir, fname, data)

    monkeypatch.setattr(fsio, "write_shard_bytes", wrong_marker)
    local, dest = _dest(tmp_path, tier)
    want = ("not visible from the executors" if tier == "plain"
            else "not reachable from the executors.*first executor error: "
                 ".*driver's token")
    with pytest.raises(RuntimeError, match=want):
        WRITERS[writer](_docs(spark), dest)
    assert os.listdir(local) == []


def test_uri_writer_error_carries_executor_exception(spark, tmp_path,
                                                     monkeypatch):
    """A URI write whose tasks cannot open the marker reports the
    executor-side exception (here: the marker was never written)."""
    real = fsio.write_shard_bytes
    monkeypatch.setattr(
        fsio, "write_shard_bytes",
        lambda out_dir, fname, data: (None if fname.startswith(MARKER_PREFIX)
                                      else real(out_dir, fname, data)),
    )
    local, dest = _dest(tmp_path, "uri")
    with pytest.raises(RuntimeError,
                       match="first executor error: FileNotFoundError"):
        WRITERS["write_avro"](_docs(spark), dest)
    assert os.listdir(local) == []


def test_writers_run_guard_and_produce_identical_shards(spark, tmp_path):
    """Two writes of the same frame give byte-identical shards and leave
    no marker: the in-task check gates the write, never alters it."""
    df = _docs(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(df, a, n_files=2)
    write_warc(df, b, n_files=2)
    fa = sorted(os.listdir(a))
    assert fa == sorted(os.listdir(b)) and fa
    assert _markers(a) == [] and _markers(b) == []
    for f in fa:
        with open(os.path.join(a, f), "rb") as fha, \
             open(os.path.join(b, f), "rb") as fhb:
            assert fha.read() == fhb.read(), f


def test_writers_reject_unreachable_uri(spark, jobs_fired):
    """An unreachable scheme raises on the driver before any Spark job."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")

    def attempt(write):
        with pytest.raises(ValueError, match="pyarrow.fs"):
            write()

    for write in (lambda: write_webdataset(df, "bogus://bucket/wds"),
                  lambda: write_avro(df, "hdfs://nn/av")):
        _, jobs = jobs_fired(lambda: attempt(write))
        assert jobs == 0


def test_write_arrow_ipc_fires_one_job(spark, tmp_path, jobs_fired):
    """The visibility check rides in the write job: one export, one job."""
    t = ColumnarTable.from_dataframe(_docs(spark), key_columns=["doc_id"])
    paths, jobs = jobs_fired(lambda: write_arrow_ipc(t, str(tmp_path / "ipc")))
    assert paths and jobs == 1


@pytest.mark.parametrize("fmt", ["arrow_ipc", "avro"])
def test_empty_table_roundtrips(spark, tmp_path, fmt):
    """A zero-row frame exports one schema-only shard and reads back as
    an empty table with the written schema."""
    df = ColumnarTable.from_dataframe(
        _docs(spark).where("doc_id < 0"), key_columns=["doc_id"]
    ).df
    out = str(tmp_path / fmt)
    if fmt == "arrow_ipc":
        paths = write_arrow_ipc(ColumnarTable(df), out)
        back = read_arrow_ipc(spark, out).df
    else:
        paths = write_avro(df, out)
        back = read_avro_py(spark, out).df
    assert len(paths) == 1
    assert _markers(out) == []
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema] == \
        [(f.name, f.dataType) for f in df.schema]

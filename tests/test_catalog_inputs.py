"""How catalog queries get their inputs: the derived-artifact helper
``_registry._artifact``, the content-addressed package zip the catalog
ships to Python workers, and the saved-workflow queries' temporary
workflow directories."""

import os
import tempfile
import zipfile

import pytest

from knime_core_columnar_spark.catalog import _registry as reg

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def artifacts(tmp_path, monkeypatch):
    """Artifacts under ``tmp_path`` instead of /tmp, and a record of
    every package-shipping call instead of an ``addPyFile``."""
    shipped = []
    monkeypatch.setattr(reg, "_artifact_path",
                        lambda name, tag: str(tmp_path / f"kccs_{name}_{tag}"))
    monkeypatch.setattr(reg, "_ensure_pkg_on_executors", shipped.append)
    (tmp_path / "src.parquet").write_bytes(b"source table")
    return tmp_path, shipped


def _write_marker(text):
    def write(out):
        os.makedirs(out)
        with open(os.path.join(out, "part-0"), "w") as f:
            f.write(text)
    return write


def _entries(tmp_path):
    return sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("kccs_"))


def test_artifact_builds_once_and_ships_when_warm(artifacts):
    tmp_path, shipped = artifacts
    spark = object()
    path = reg._artifact(spark, str(tmp_path), "a", ("src",), _write_marker("v1"))
    assert open(os.path.join(path, "part-0")).read() == "v1"

    def must_not_write(out):
        raise AssertionError("a warm artifact was rewritten")

    assert reg._artifact(spark, str(tmp_path), "a", ("src",), must_not_write) == path
    assert shipped == [spark, spark]
    assert _entries(tmp_path) == [os.path.basename(path)]


def test_failed_write_leaves_no_artifact_and_no_staging(artifacts):
    tmp_path, _ = artifacts

    def failing(out):
        _write_marker("half")(out)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        reg._artifact(None, str(tmp_path), "a", ("src",), failing)
    assert _entries(tmp_path) == []


def test_concurrent_publish_keeps_the_first_copy(artifacts):
    tmp_path, _ = artifacts
    final = reg._artifact_path("a", reg._artifact_tag(str(tmp_path), "src"))

    def racing(out):
        _write_marker("ours")(out)
        _write_marker("theirs")(final)  # another session publishes first

    assert reg._artifact(None, str(tmp_path), "a", ("src",), racing) == final
    assert open(os.path.join(final, "part-0")).read() == "theirs"
    assert _entries(tmp_path) == [os.path.basename(final)]


def _pkg_tree(root, body):
    pkg = root / "knime_core_columnar_spark"
    (pkg / "catalog").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "catalog" / "mod.py").write_text(body)
    (pkg / "catalog" / "notes.txt").write_text("not shipped")
    return str(pkg)


def test_pkg_zip_is_content_addressed(tmp_path, monkeypatch):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    a = _pkg_tree(tmp_path / "a", "X = 1\n")
    b = _pkg_tree(tmp_path / "b", "X = 2\n")

    za = reg._pkg_zip(a)
    first = open(za, "rb").read()
    os.remove(za)
    assert reg._pkg_zip(a) == za
    assert open(za, "rb").read() == first
    zb = reg._pkg_zip(b)
    assert zb != za

    assert os.path.dirname(za) == str(tmpdir)
    assert sorted(os.listdir(tmpdir)) == sorted(
        os.path.basename(z) for z in (za, zb))
    assert all(n.startswith("knime_core_columnar_spark-") for n in os.listdir(tmpdir))
    with zipfile.ZipFile(za) as z:
        assert z.namelist() == ["knime_core_columnar_spark/__init__.py",
                                "knime_core_columnar_spark/catalog/mod.py"]
        assert z.read("knime_core_columnar_spark/catalog/mod.py") == b"X = 1\n"


@pytest.mark.parametrize(
    "name",
    ["workflow_dag_execute", "workflow_join_execute", "workflow_topk_execute"],
)
def test_workflow_queries_leave_no_workflow_dir(spark, name):
    from knime_core_columnar_spark import catalog

    def wf_dirs():
        return {n for n in os.listdir(tempfile.gettempdir())
                if n.startswith("kccs_wf_")}

    before = wf_dirs()
    assert catalog.QUERIES[name](spark, SF_DIR).count() > 0
    assert wf_dirs() <= before

"""The engine's one materialization rule: ``session.checkpoint``.

Every operator pins a reused frame through that one function, so the
package has one place that decides between a local and a reliable
checkpoint. The structural test keeps it that way; the executor-loss
test shows what the reliable mode buys.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap

import knime_core_columnar_spark

PACKAGE = pathlib.Path(knime_core_columnar_spark.__file__).parent
CHECKPOINT_METHODS = {"localCheckpoint", "checkpoint"}


def test_only_session_checkpoints():
    """No module but ``session.py`` calls ``DataFrame.localCheckpoint``
    or ``DataFrame.checkpoint``; operators call ``session.checkpoint``."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        if rel == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in CHECKPOINT_METHODS):
                calls.append(f"{rel}:{node.lineno} .{node.func.attr}()")
    assert calls == [], calls


_EXECUTOR_LOSS = textwrap.dedent("""
    import sys, time
    from pyspark.sql import SparkSession
    from knime_core_columnar_spark.session import checkpoint

    spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
             .config("spark.checkpoint.dir", sys.argv[1])
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext._jsc.sc()

    def executors():
        ids = sc.getExecutorIds()
        return sorted(ids.apply(i) for i in range(ids.size()))

    def wait_for(n):
        deadline = time.time() + 60
        while len(executors()) != n:
            assert time.time() < deadline, executors()
            time.sleep(0.2)

    wait_for(2)
    df = checkpoint(spark.range(0, 200_000, 1, 4))
    assert df.count() == 200_000
    sc.killExecutor(executors()[0])
    wait_for(1)
    print("COUNT", df.count())
    spark.stop()
""")


def test_reliable_checkpoint_survives_executor_loss(tmp_path):
    """With ``spark.checkpoint.dir`` set, a frame pinned through
    ``session.checkpoint`` still counts all its rows after the executor
    holding half of it is killed (a local checkpoint's blocks die with
    it). Runs in its own process, so the suite's shared session never
    gets a checkpoint directory."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(PACKAGE.parent), env.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    out = subprocess.run(
        [sys.executable, "-c", _EXECUTOR_LOSS, str(tmp_path / "ckpt")],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "COUNT 200000" in out.stdout, out.stdout
    assert any((tmp_path / "ckpt").rglob("part-*")), "no reliable checkpoint"

"""Session defaults at the driver boundary.

PySpark's DataFrame call-site capture sends extra py4j commands on every
Column and DataFrame call to record the Python stack. The engine's
session turns it off, so building a column costs a few round trips.
"""

from __future__ import annotations

import py4j.clientserver
import pyspark.errors.utils
from pyspark.sql import functions as F


def test_column_call_round_trips(spark, monkeypatch):
    # PySpark caches the debugging switch process-wide on first use; read
    # it from this session's conf before counting.
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    F.col("a")
    sent = []
    orig = py4j.clientserver.ClientServerConnection.send_command

    def send_command(conn, command, *args, **kwargs):
        if not command.startswith("m\n"):  # py4j memory commands
            sent.append(command)
        return orig(conn, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", send_command)
    F.col("a").cast("string").alias("b")
    assert len(sent) <= 5, len(sent)

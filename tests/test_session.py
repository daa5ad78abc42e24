"""The session's driver-side cost: ``get_spark`` turns off pyspark's
per-call DataFrame debugging, which wraps every Column function in
py4j round trips that capture its Python call site."""

from __future__ import annotations

import py4j.clientserver
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


def test_dataframe_debugging_is_off(spark):
    assert is_debugging_enabled() is False


def test_column_build_costs_few_py4j_commands(spark, monkeypatch):
    """``F.col("a") + F.lit(i)`` is 7 py4j commands; with the call-site
    capture on it was about 27."""
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", counting)
    n = 20
    for i in range(n):
        F.col("a") + F.lit(i)
    assert len(sent) <= 8 * n

"""The session's fixed costs: ``get_spark`` turns off pyspark's
per-call DataFrame debugging, which wraps every Column function in
py4j round trips that capture its Python call site; it runs the Python
workers on a private Unix socket; and its codegen cache holds the
working set of generated classes."""

from __future__ import annotations

import os
import stat
import tempfile

import py4j.clientserver
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from pyproj_spark.session import socket_dir


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


def test_python_workers_use_a_short_private_unix_socket_dir(
        spark, monkeypatch, tmp_path):
    """Spark names each socket ``<dir>/.<uuid4>.sock`` (43 characters
    past the directory); AF_UNIX paths stop at 108 bytes, and the
    socket mode skips the worker auth secret, so the directory's
    owner and mode are the only guard."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert d == socket_dir()
    assert len(d) + 43 < 108
    st = os.stat(d)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    # a Python UDF task runs over it
    f = F.arrow_udf(lambda x: x, "long")
    assert spark.range(3).select(f("id")).collect()[2][0] == 2
    assert any(n.endswith(".sock") for n in os.listdir(d))
    # the directory follows neither TMPDIR nor java.io.tmpdir, which a
    # caller may point at a deep work directory
    deep = tmp_path / ("x" * 90)
    deep.mkdir()
    monkeypatch.setenv("TMPDIR", str(deep))
    monkeypatch.setattr(tempfile, "tempdir", None)
    other = socket_dir.__wrapped__()
    try:
        assert os.path.dirname(other) == "/tmp"
        assert stat.S_IMODE(os.stat(other).st_mode) == 0o700
    finally:
        os.rmdir(other)


def test_codegen_cache_holds_more_than_100_classes(spark):
    """The default cap (100 classes) is below the query mix's working
    set, so every pass recompiled: 120 distinct plans compiled once
    are still cached the second time round."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run_all():
        before = metric.getCount()
        for i in range(120):
            spark.range(2).select((F.col("id") * 7 + F.lit(950_000 + i))
                                  .alias("x")).collect()
        return metric.getCount() - before

    assert run_all() >= 120
    assert run_all() == 0

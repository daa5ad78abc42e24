"""SparkSession factory with scale-oriented defaults.

The confs here are the ones that matter at 100 TB: AQE (runtime
re-planning + skew-join splitting), a shuffle-partition count sized to
the local core count (on a real cluster this is set per-job), and Arrow
batching for the Arrow-UDF kernels (the Spark analogue of pyproj's
64-point micro-batches — reference ``pyproj/transformer.py:1096-1099`` —
but sized for Arrow transfer amortization, not C-call overhead).

Every Python-UDF task (``arrow_udf``, ``pandas_udf``, ``applyInPandas``,
``mapInArrow``) starts with ``importlib.invalidate_caches()`` in
pyspark's worker. On CPython <= 3.12 that re-reads the central
directory of every zip archive the worker imported from, and Spark's
default worker path holds three: pyspark.zip, the py4j source zip and
the spark-core jar. That cost 0.12-0.15 s per task on one pinned CPU
(CPython 3.11 and 3.12), more than a 500-row Arrow-UDF job spends
computing. ``get_spark`` therefore
starts the workers from :mod:`pyproj_spark.worker_daemon`, which runs
them on the installed pyspark and py4j when those are the same
releases. The workers must be able to import ``pyproj_spark`` (the
driver's working directory or PYTHONPATH), as every engine UDF already
requires.

Building a plan is py4j traffic, and pyspark 4.1 adds to it: every
Column function is wrapped in ``errors.utils._with_origin``, which asks
the JVM for the active session and the
``spark.sql.stackTracesInDataFrameContext`` conf, then sets and clears
``PySparkCurrentOrigin`` around the call, so that an error can name the
Python ``file:line`` that built the failing Column. Building
``F.col("a") + F.lit(i)`` costs 27 py4j commands with it and 7 without.
``get_spark`` sets ``spark.python.sql.dataFrameDebugging.enabled`` to
false: building all 294 registered queries once at sf0.01 took 69 s
instead of 94 s (build only, 4 vCPU, ``local[2]``, median of 3
processes). The trade-off: an error keeps Spark's error class and
message, and its DataFrame query context still names the operation,
but no longer the Python call site. pyspark reads the conf once per
process, at the first Column call made under an active session, so the
first session of a process decides.

Two more confs cut the fixed cost of each query stage; results do not
change (4 vCPU, ``local[2]``):

* The Python workers talk to the JVM over a Unix domain socket, not
  loopback TCP. Over TCP each Arrow or ``mapInArrow`` task waited
  40-48 ms (median 41.7) in ``pyarrow.ipc.open_stream`` for the JVM's
  first Arrow message; over the Unix socket the wait is 0.07-0.57 ms
  (timed in the worker). That ~40 ms looks like Linux's delayed-ACK
  floor meeting Nagle on an unflagged loopback socket. A 500-row,
  one-task Arrow-UDF job to the noop sink took 80 ms over TCP and
  41 ms over the socket; the native job takes 17-19 ms. Spark names
  each socket ``<dir>/.<uuid4>.sock``, 43 characters past the
  directory, and AF_UNIX paths stop at 108 bytes. Spark's default
  directory is ``java.io.tmpdir``, which a caller may point deep into
  a work tree (perfbench does), so :func:`socket_dir` is a short
  directory under ``/tmp`` instead. The socket mode skips the worker
  auth secret: the directory's owner and its mode 0700 keep other
  local users off the daemon.
* ``spark.sql.codegen.cache.maxEntries`` is 1000, not 100. The
  perfbench query mix compiles 107 classes on its first pass, so the
  default cache evicted them and each later pass recompiled 22-53
  classes whose source had not changed; with 1000 a later pass
  compiles none. The
  conf is static: the first session of a JVM decides.

Over 12 alternating perfbench pairs the two took query_mix
``op_p50_s_ref`` from 0.319 to 0.232 s. The flagship, whose 65k-row
batches keep the socket busy, lost 1-3% of its throughput, most of it
to the socket.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: Arrow batch size for Arrow-UDF kernels. pyproj uses 64-point batches
#: because its per-call overhead is one C call; ours is a JVM->Python
#: Arrow round trip whose per-batch overhead dominates at small sizes —
#: measured on the flagship pipeline (5M anchor rows): 10k-row batches
#: 2.00 s, 65k 1.67 s, plateau beyond. Wide rows (binary payloads) are
#: bounded by Spark 4's spark.sql.execution.arrow.maxBytesPerBatch
#: (64 MB default), so the record cap can sit at the numeric-column
#: optimum without risking batch blowup on multimodal blobs.
ARROW_BATCH_ROWS = 65_536


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: JVM flags that remove the two measured sources of run-to-run stalls
#: in local mode: G1 concurrent cycles / heap resizing (ParallelGC +
#: fixed -Xms) and code-cache pressure from whole-stage-codegen class
#: churn (default 240m ReservedCodeCacheSize flushes hot methods).
#: Measured on this box: late-run spikes of 3-7x under defaults
#: disappear under these flags (see bench.py methodology notes).
STEADY_JVM_OPTS = ("-XX:ReservedCodeCacheSize=1g -XX:+UseParallelGC "
                   "-XX:CICompilerCount=4 -Xms20g")


@functools.cache
def socket_dir() -> str:
    """The directory of this process's Python-worker sockets: short,
    under ``/tmp`` whatever ``TMPDIR`` or ``java.io.tmpdir`` say, mode
    0700, and removed when the process exits."""
    path = tempfile.mkdtemp(prefix="pyspark-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(app_name: str = "pyproj_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              java_opts: str | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for the engine.

    On a real cluster the same confs apply, minus ``master``; jobs are
    submitted with ``spark-submit --py-files pyproj_spark.zip``.
    ``java_opts`` (driver JVM flags) only takes effect for the process's
    FIRST session — pass it before any other get_spark call.
    """
    n = cores or default_parallelism()
    sp = shuffle_partitions or max(2 * n, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "pyproj_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions",
                                 java_opts)
    return builder.getOrCreate()

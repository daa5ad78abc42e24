"""Structured Streaming tests: windowed tile counts match the batch
computation; stateful first-seen dedup emits each url exactly once."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pyproj_spark.sources.pages import pages_df
from pyproj_spark.streaming.tiles import streaming_tile_counts

N = 1200  # ts step is 13s -> spans ~4.3 hours of event time


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    import time as _time
    d = str(tmp_path_factory.mktemp("pages_stream"))
    # write 4 chunks SEQUENTIALLY (increasing mtime) so the file source
    # processes them in event-time order and the watermark advances
    # monotonically — same-mtime files are picked in arbitrary order
    from pyproj_spark.sources.pages import EPOCH_2024
    pages = pages_df(spark, N, partitions=1)
    ts = F.col("warc_ts").cast("double")
    lo = float(EPOCH_2024)
    for k in range(1, 5):
        hi = EPOCH_2024 + N * 13.0 * k / 4
        pages.filter((ts >= lo) & (ts < hi)) \
            .coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)
        lo = hi
    return d


def test_streaming_tiles_match_batch(spark, pages_dir):
    batch = spark.read.parquet(pages_dir)
    schema = batch.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(pages_dir))
    out = streaming_tile_counts(stream, zoom=4, window="30 minutes",
                                watermark="5 minutes")
    q = (out.writeStream.format("memory").queryName("tiles_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from tiles_stream").toPandas()
    # batch reference for the same windows
    ref = (streaming_tile_counts_batch(batch, zoom=4, window="30 minutes")
           .toPandas())
    assert len(got) > 0
    ref_map = {(r.w_start, r.tx, r.ty): r.n_anchors
               for r in ref.itertuples()}
    for r in got.itertuples():
        assert ref_map[(r.w_start, r.tx, r.ty)] == r.n_anchors
    # append mode only emits windows the watermark closed: subset is
    # expected, equality per emitted row is required
    assert len(got) <= len(ref)


def streaming_tile_counts_batch(pages, zoom, window):
    from pyproj_spark.functions import cells
    from pyproj_spark.functions.tiles import tile_xy_from_lonlat
    from pyproj_spark.operators.extract import ANCHOR_RE
    a = (pages.select(
        "warc_ts",
        F.explode(F.regexp_extract_all("text", F.lit(ANCHOR_RE), 0))
        .alias("anchor_text"))
        .select(
            "warc_ts",
            F.regexp_extract("anchor_text", ANCHOR_RE, 1).cast("double")
            .alias("lon"),
            F.regexp_extract("anchor_text", ANCHOR_RE, 2).cast("double")
            .alias("lat"),
            F.regexp_extract("anchor_text", ANCHOR_RE, 3).alias("crs"))
        .filter(F.col("crs") == ""))
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), zoom)
    return (a.withColumn("tx", tx).withColumn("ty", ty)
            .groupBy(F.window("warc_ts", window).alias("w"), "tx", "ty")
            .agg(F.count("*").alias("n_anchors"))
            .select(F.col("w.start").alias("w_start"), "tx", "ty",
                    "n_anchors"))


def test_streaming_first_seen_dedup(spark, pages_dir, tmp_path):
    from pyproj_spark.streaming.dedup import streaming_first_seen
    batch = spark.read.parquet(pages_dir)
    # duplicate the input: every url appears twice across micro-batches
    dup_dir = str(tmp_path / "dup")
    batch.write.mode("overwrite").parquet(dup_dir)
    batch.write.mode("append").parquet(dup_dir)
    schema = batch.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(dup_dir))
    out = streaming_first_seen(stream)
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select url from dedup_stream").toPandas()
    assert len(got) == N  # each url exactly once despite duplicates
    assert got["url"].is_unique


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream attribution join (streaming/joins.py): the same
    function builds the batch plan, and the streaming inner join over
    watermarked sides must emit exactly the batch rows once all input
    is processed."""
    from pyproj_spark.streaming.joins import attributed_purchases

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "events_stream")
    # two time-ordered chunks so watermarks advance between batches
    import time as _time
    ts = F.unix_timestamp("ts")
    mid = ev.selectExpr(
        "percentile(unix_timestamp(ts), 0.5) p").collect()[0]["p"]
    ev.filter(ts < mid).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    ev.filter(ts >= mid).coalesce(1).write.mode("append").parquet(d)

    schema = ev.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = attributed_purchases(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"),
        watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("attrib_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql("select * from attrib_stream").collect())
    batch = attributed_purchases(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"))
    ref = sorted(tuple(r) for r in batch.collect())
    assert len(ref) > 0
    # inner stream-stream joins emit every match once input is drained
    assert got == ref


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The streaming HLL's final per-group estimate must be
    BIT-IDENTICAL to the batch operator over the same rows — the
    register vector is associative state, so micro-batch boundaries
    cannot change the answer."""
    from pyproj_spark.operators.sketch import hll_distinct
    from pyproj_spark.streaming.sketch import streaming_hll_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "user_id")
    src = str(tmp_path / "src")
    # two triggers, rows split across them (duplicates between batches
    # exercise the register-merge path)
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = streaming_hll_distinct(stream, "event_type", "user_id")
    q = (out.writeStream.format("memory").queryName("hll_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the LAST update per group: estimates only grow, so max row works
    last = (spark.sql("select grp, max(hll_est) as hll_est from "
                      "hll_stream group by grp").toPandas()
            .set_index("grp").sort_index())
    exp = (hll_distinct(ev, "event_type", "user_id").toPandas()
           .rename(columns={"event_type": "grp"})
           .set_index("grp").sort_index())
    assert list(last.index) == list(exp.index)
    assert (last["hll_est"] == exp["hll_est"]).all()


def test_streaming_sessions_match_batch(spark, tmp_path):
    """session_window under watermark: every session the stream emits
    (append mode = closed by the watermark) matches the batch
    sessionization bit-for-bit; state is bounded by the watermark."""
    import time as _time
    from pyproj_spark.streaming.sessions import streaming_sessions

    d = str(tmp_path / "events")
    # 40 users x bursts separated by > gap, written in event-time order
    ev = spark.range(0, 3000).select(
        (F.col("id") % 40).alias("user_id"),
        F.timestamp_seconds(1704067200 + F.col("id") * 97
                            + (F.col("id") % 7) * 1200).alias("ts"),
        (F.col("id") % 13).cast("double").alias("value"))
    ts = F.col("ts").cast("double")
    lo = 0.0
    for k in range(1, 4):
        hi = 1704067200 + 3000 * 97.0 * k / 3 + 10000
        ev.filter((ts >= lo) & (ts < hi)).coalesce(1) \
            .write.mode("append").parquet(d)
        _time.sleep(1.1)
        lo = hi
    batch = spark.read.parquet(d)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = streaming_sessions(stream, gap="20 minutes",
                             watermark="5 minutes")
    q = (out.writeStream.format("memory").queryName("sess_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from sess_stream").toPandas()
    ref = streaming_sessions(batch, gap="20 minutes").toPandas()
    assert len(got) > 0
    ref_map = {(r.user_id, r.session_start): (r.session_end, r.n_events,
                                              r.sum_value)
               for r in ref.itertuples()}
    for r in got.itertuples():
        assert ref_map[(r.user_id, r.session_start)] == \
            (r.session_end, r.n_events, r.sum_value)
    # append emits only watermark-closed sessions: subset expected
    assert len(got) <= len(ref)


def test_streaming_geofence_matches_batch(spark, tmp_path):
    """Stateful geofence transitions: multi-micro-batch stream output
    must equal the batch lag-window reference row for row."""
    import time as _time

    from pyspark.sql import Window
    from pyproj_spark.operators.pip import ring_contains
    from pyproj_spark.streaming.geofence import streaming_geofence
    ring = [(0.0, 30.0), (40.0, 32.0), (50.0, 60.0), (10.0, 65.0),
            (-10.0, 50.0)]
    d = str(tmp_path / "ev_stream")
    ev = spark.range(0, 900).select(
        (F.col("id") % 30).alias("user_id"),
        F.timestamp_seconds(1700000000 + F.col("id") * 7).alias("ts"),
        F.col("id").alias("event_id"),
        ((F.col("id") * 31 % 70000) / 1000.0 - 15.0).alias("lon"),
        ((F.col("id") * 57 % 45000) / 1000.0 + 25.0).alias("lat"))
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k).coalesce(1)
         .write.mode("append").parquet(d))
        _time.sleep(1.1)
    batch = spark.read.parquet(d)

    # batch reference: same flags, lag window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = batch.select("user_id", "ts", "event_id",
                         ring_contains(F.col("lon"), F.col("lat"),
                                       ring).cast("int").alias("inside"))
    ref = (flags.withColumn("prev", F.lag("inside").over(w))
           .filter(F.col("prev").isNotNull()
                   & (F.col("prev") != F.col("inside")))
           .select("user_id", "event_id",
                   F.when(F.col("inside") == 1, F.lit("enter"))
                   .otherwise(F.lit("exit")).alias("transition")))
    # NOTE: the stream processes files by mtime, and event_id % 3
    # interleaves event TIME across files — so per-user in-batch order
    # is NOT global order. Use maxFilesPerTrigger=3 (one batch) for
    # exact parity, then a second run with per-file batches over
    # time-ordered chunks.
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 3).parquet(d))
    q = (streaming_geofence(stream, ring)
         .writeStream.format("memory").queryName("gf_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from gf_stream").toPandas()
    exp = ref.toPandas()
    assert sorted(map(tuple, got.itertuples(index=False))) == \
        sorted(map(tuple, exp.itertuples(index=False)))
    assert len(exp) > 0


def test_streaming_geofence_state_carries_across_batches(spark,
                                                         tmp_path):
    """Time-ordered chunks, one file per micro-batch: the inside flag
    must survive in the state store between batches."""
    import time as _time

    from pyspark.sql import Window
    from pyproj_spark.operators.pip import ring_contains
    from pyproj_spark.streaming.geofence import streaming_geofence
    ring = [(0.0, 30.0), (40.0, 32.0), (50.0, 60.0), (10.0, 65.0),
            (-10.0, 50.0)]
    d = str(tmp_path / "ev_stream2")
    ev = spark.range(0, 600).select(
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_seconds(1700000000 + F.col("id") * 7).alias("ts"),
        F.col("id").alias("event_id"),
        ((F.col("id") * 997 % 70000) / 1000.0 - 15.0).alias("lon"),
        ((F.col("id") * 1571 % 45000) / 1000.0 + 25.0).alias("lat"))
    for k in range(3):  # contiguous event-time chunks, ordered mtimes
        (ev.filter((F.col("event_id") >= k * 200)
                   & (F.col("event_id") < (k + 1) * 200)).coalesce(1)
         .write.mode("append").parquet(d))
        _time.sleep(1.1)
    batch = spark.read.parquet(d)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = batch.select("user_id", "ts", "event_id",
                         ring_contains(F.col("lon"), F.col("lat"),
                                       ring).cast("int").alias("inside"))
    ref = (flags.withColumn("prev", F.lag("inside").over(w))
           .filter(F.col("prev").isNotNull()
                   & (F.col("prev") != F.col("inside")))
           .select("user_id", "event_id",
                   F.when(F.col("inside") == 1, F.lit("enter"))
                   .otherwise(F.lit("exit")).alias("transition")))
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (streaming_geofence(stream, ring)
         .writeStream.format("memory").queryName("gf_stream2")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from gf_stream2").toPandas()
    exp = ref.toPandas()
    assert sorted(map(tuple, got.itertuples(index=False))) == \
        sorted(map(tuple, exp.itertuples(index=False)))
    # fast-wrapping positions flip each user's flag many times, so
    # transitions land in every chunk and the state store is the only
    # way the first event of a chunk can see the previous flag
    assert len(exp) > 50


def test_streaming_geofence_multichunk_group(spark, tmp_path):
    """One user's micro-batch rows delivered as MULTIPLE Arrow chunks
    in shuffle order: the stateful fn must globally sort the whole
    group before diffing flags (per-chunk sorting gives wrong
    transitions). maxRecordsPerBatch=64 forces >10 chunks for the
    700-row user."""
    import time as _time

    from pyspark.sql import Window
    from pyproj_spark.operators.pip import ring_contains
    from pyproj_spark.streaming.geofence import streaming_geofence
    ring = [(0.0, 30.0), (40.0, 32.0), (50.0, 60.0), (10.0, 65.0),
            (-10.0, 50.0)]
    d = str(tmp_path / "ev_stream3")
    # reversed + striped event time so file order ≠ time order within
    # the single micro-batch, across chunk boundaries
    ev = spark.range(0, 700).select(
        F.lit(7).cast("long").alias("user_id"),
        F.timestamp_seconds(1700000000
                            + ((F.col("id") * 389) % 700) * 7).alias("ts"),
        ((F.col("id") * 389) % 700).alias("event_id"),
        (((F.col("id") * 389) % 700) * 997 % 70000 / 1000.0 - 15.0)
        .alias("lon"),
        (((F.col("id") * 389) % 700) * 1571 % 45000 / 1000.0 + 25.0)
        .alias("lat"))
    ev.coalesce(1).write.mode("append").parquet(d)
    _time.sleep(0.2)
    batch = spark.read.parquet(d)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = batch.select("user_id", "ts", "event_id",
                         ring_contains(F.col("lon"), F.col("lat"),
                                       ring).cast("int").alias("inside"))
    ref = (flags.withColumn("prev", F.lag("inside").over(w))
           .filter(F.col("prev").isNotNull()
                   & (F.col("prev") != F.col("inside")))
           .select("user_id", "event_id",
                   F.when(F.col("inside") == 1, F.lit("enter"))
                   .otherwise(F.lit("exit")).alias("transition")))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        stream = (spark.readStream.schema(batch.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (streaming_geofence(stream, ring)
             .writeStream.format("memory").queryName("gf_stream3")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = spark.sql("select * from gf_stream3").toPandas()
    exp = ref.toPandas()
    assert sorted(map(tuple, got.itertuples(index=False))) == \
        sorted(map(tuple, exp.itertuples(index=False)))
    assert len(exp) > 20


def test_streaming_cm_matches_batch(spark, tmp_path):
    """Streaming Count-Min parity: after the stream drains, every
    probe's estimate equals the batch sketch's min-over-rows probe on
    the same rows — the counter matrix is additive state, so
    micro-batch boundaries cannot change it."""
    from pyspark.sql import functions as F
    from pyproj_spark.operators.sketch import cm_build
    from pyproj_spark.streaming.sketch import streaming_cm_heavy

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "user_id")
    probes = [r.user_id for r in
              ev.groupBy("user_id").count()
              .orderBy(F.desc("count"), "user_id").limit(5).collect()]
    src = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)   # duplicates across triggers
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = streaming_cm_heavy(stream, "event_type", "user_id", probes)
    q = (out.writeStream.format("memory").queryName("cm_stream")
         .option("checkpointLocation", str(tmp_path / "ck_cm"))
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    last = (spark.sql("select grp, value, max(est) as est from "
                      "cm_stream group by grp, value").toPandas()
            .set_index(["grp", "value"]).sort_index())

    both = ev.union(ev)  # the stream saw every row twice
    for grp in [r.grp for r in
                spark.sql("select distinct grp from cm_stream")
                .collect()]:
        sub = both.filter(F.col("event_type") == grp)
        sketch = {(r.r, r.c): r.cnt
                  for r in cm_build(sub, "user_id").collect()}
        from pyproj_spark.streaming.sketch import _cm_col, CM_D, CM_W
        for p in probes:
            exp = min(sketch.get((r, _cm_col(r, str(p), CM_W)), 0)
                      for r in range(CM_D))
            assert last.loc[(grp, str(p)), "est"] == exp


def test_geofence_group_spanning_many_arrow_chunks(spark, tmp_path):
    """One user's micro-batch rows delivered as MULTIPLE Arrow chunks
    (rows >> arrow.maxRecordsPerBatch) must still produce globally
    time-ordered transitions — the concat-then-sort contract in
    _transitions_fn. With per-chunk sorting this test flaps: chunks
    arrive in shuffle order and diffs run against the wrong
    predecessor."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyproj_spark.operators.pip import ring_contains
    from pyproj_spark.streaming.geofence import streaming_geofence

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        ring = [(-10.0, -10.0), (10.0, -10.0), (10.0, 10.0),
                (-10.0, 10.0)]
        n = 1000  # ~16 chunks for the single user
        rows = [(1, i, i,
                 (0.0 if (i // 100) % 2 == 0 else 50.0), 0.0)
                for i in range(n)]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, event_id long, "
                  "lon double, lat double")
        # batch oracle: lag over the (ts, event_id) order
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        flags = df.withColumn(
            "inside",
            ring_contains(F.col("lon"), F.col("lat"), ring).cast("int"))
        batch = (flags.withColumn("prev", F.lag("inside").over(w))
                 .filter(F.col("prev").isNotNull()
                         & (F.col("inside") != F.col("prev")))
                 .select("event_id",
                         F.when(F.col("inside") == 1, "enter")
                         .otherwise("exit").alias("transition")))
        expected = {(r.event_id, r.transition)
                    for r in batch.collect()}
        assert len(expected) == 9  # flips at 100,200,...,900

        src = str(tmp_path / "src")
        df.repartition(8).write.parquet(src)  # shuffled chunk order
        stream = (spark.readStream.schema(df.schema).parquet(src))
        out = str(tmp_path / "out")
        q = (streaming_geofence(stream, ring).writeStream
             .format("memory").queryName("geo_chunks")
             .option("checkpointLocation", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r.event_id, r.transition)
               for r in spark.sql("SELECT * FROM geo_chunks").collect()}
        assert got == expected
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Streaming CUSUM over day-ordered micro-batches must equal the
    batch prefix-sum identity over the same rows — integer state, so
    trigger boundaries cannot change the excursion."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyproj_spark.streaming.cusum import streaming_cusum

    # 6 hosts x 24 days, integer volumes with a mid-series drift
    rows = spark.range(0, 6 * 24).select(
        (F.col("id") % 6).cast("string").alias("source"),
        F.floor(F.col("id") / 6).alias("day"),
        (100 + (F.col("id") * 37 % 23)
         + F.when(F.floor(F.col("id") / 6) >= 15,
                  (F.col("id") % 6) * 9).otherwise(0)).alias("y"),
        F.lit(110).alias("target"))
    src = str(tmp_path / "src")
    # write in day order so triggers consume days monotonically
    for lo, hi in ((0, 8), (8, 16), (16, 24)):
        (rows.filter((F.col("day") >= lo) & (F.col("day") < hi))
         .coalesce(1).write.mode("append").parquet(src))
    stream = (spark.readStream.schema(rows.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_cusum(stream)
    q = (out.writeStream.format("memory").queryName("cusum_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (spark.sql(
        "select source, max(cus_max) as cus_max from cusum_stream "
        "group by source").toPandas()
        .set_index("source").sort_index())
    # batch replay: P_t - min(0, P_1..P_t), max over t
    wo = (Window.partitionBy("source").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    batch = (rows.withColumn("dev", F.col("y") - F.col("target"))
             .withColumn("p", F.sum("dev").over(wo))
             .withColumn("runmin",
                         F.min(F.least(F.col("p"), F.lit(0))).over(wo))
             .withColumn("cus", F.col("p") - F.col("runmin"))
             .groupBy("source").agg(F.max("cus").alias("cus_max"))
             .toPandas().set_index("source").sort_index())
    assert list(got.index) == list(batch.index)
    assert (got["cus_max"] == batch["cus_max"]).all()

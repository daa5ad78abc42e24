"""Round-6 optimization internals: the scale-adaptive scan spread and
the batched (one-pandas-UDF-call-per-Arrow-batch) DP rewrites must be
behavior-identical to the per-group forms they replaced."""

import numpy as np

from pyspark.sql import functions as F

from pyproj_spark.operators.skew import spread_small_scan


class TestSpreadSmallScan:
    def test_single_file_scan_spreads_to_core_count(self, spark, tmp_path):
        p = str(tmp_path / "one")
        spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        out = spread_small_scan(df)
        n = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == n
        # row set unchanged
        assert sorted(r.id for r in out.collect()) == list(range(100))

    def test_many_file_scan_is_a_noop(self, spark, tmp_path):
        n = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "many")
        spark.range(1000).repartition(n + 2).write \
            .mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        out = spread_small_scan(df)
        # same plan object — no repartition inserted
        assert out is df


    def test_one_file_many_row_groups_is_a_noop(self, spark, tmp_path):
        """One file whose row groups plan more scan partitions than
        cores must not be repartitioned down to the core count."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        p = str(tmp_path / "rowgroups.parquet")
        rng = np.random.default_rng(3)
        t = pa.table({"id": np.arange(400_000),
                      "x": rng.random(400_000)})
        pq.write_table(t, p, row_group_size=50_000, compression="none")
        assert pq.ParquetFile(p).metadata.num_row_groups == 8
        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, str(512 * 1024))
        try:
            df = spark.read.parquet(p)
            n = spark.sparkContext.defaultParallelism
            assert df.rdd.getNumPartitions() > n
            assert spread_small_scan(df) is df
        finally:
            spark.conf.set(key, old)


class TestMixedShapeBatches:
    def test_viterbi_mixed_step_counts_one_frame(self, spark):
        """Two trajectories with DIFFERENT step counts must decode
        independently inside one Arrow batch (the reshape infers
        (k_steps, n_seg) per row, not per batch)."""
        from pyproj_spark.operators.hmm import viterbi_match
        segs = spark.createDataFrame(
            [(1, 0.0, 0.0, 10.0, 0.0), (2, 0.0, 5.0, 10.0, 5.0)],
            "seg_id int, ax double, ay double, bx double, by double")
        rows = [
            # traj 1: 2 steps hugging segment 1
            (1, 0, 1.0, 0.1), (1, 1, 2.0, 0.0),
            # traj 2: 4 steps hugging segment 2
            (2, 0, 1.0, 5.1), (2, 1, 3.0, 5.0),
            (2, 2, 5.0, 4.9), (2, 3, 7.0, 5.0),
        ]
        pts = spark.createDataFrame(
            rows, "traj_id long, step long, lon double, lat double")
        got = {(r.traj_id, r.step): r.seg_id
               for r in viterbi_match(pts, segs).collect()}
        assert got == {(1, 0): 1, (1, 1): 1,
                       (2, 0): 2, (2, 1): 2, (2, 2): 2, (2, 3): 2}

    def test_dtw_mixed_lengths_match_scalar_recurrence(self, spark):
        """Length-bucketed vectorized lattice == scalar per-track DP."""
        from pyproj_spark.operators.dtw import dtw_to_reference
        ref = [(0, 0), (5, 5), (10, 0)]
        tracks = {1: [(0, 1), (6, 4)],
                  2: [(1, 0), (4, 6), (11, 1), (9, -1)],
                  3: [(0, 0), (5, 5), (10, 0)]}

        def scalar_dp(tr):
            R = np.asarray(ref, np.int64)
            prev = None
            for i, (x, y) in enumerate(tr):
                cost = (x - R[:, 0]) ** 2 + (y - R[:, 1]) ** 2
                cur = np.empty(len(R), np.int64)
                if prev is None:
                    cur[0] = cost[0]
                    for j in range(1, len(R)):
                        cur[j] = cost[j] + cur[j - 1]
                else:
                    cur[0] = cost[0] + prev[0]
                    for j in range(1, len(R)):
                        cur[j] = cost[j] + min(prev[j], prev[j - 1],
                                               cur[j - 1])
                prev = cur
            return int(prev[-1])

        rows = [(u, i, x, y) for u, t in tracks.items()
                for i, (x, y) in enumerate(t)]
        got = {r.user_id: (r.n_pts, r.dtw_cost)
               for r in dtw_to_reference(
                   spark.createDataFrame(
                       rows, "user_id long, i long, x long, y long"),
                   ref).collect()}
        for u, t in tracks.items():
            assert got[u] == (len(t), scalar_dp(t)), u

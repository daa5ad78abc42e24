"""Repository benchmark: one closed-loop client on ``local[N]``.

    python3 perfbench/run.py --workload flagship_tiles --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny, checked

Run from the repository root. ``--trace 0`` prints every end-to-end
metric, ``--trace 1`` every per-layer metric (BENCHMARK.json names both
sets); ``--smoke`` runs a workload (or, without ``--workload``, every
workload) at a tiny size with its output checks, so the benchmark tests
itself. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
repeat each metric with its unit, the machine shape and any failure. A
full record (samples, machine shape, spans) goes to ``.perfbench_out/``.

A run: pin to CPUS_PER_CORE x CORES CPUs (refuse if fewer come back)
-> launch the JVM and make the inputs from the seed -> set up ``SETUPS`` times
(new Spark context, input check, warm-up job) -> check outputs once
against an independent reference (untimed) -> ramp -> measure passes for
``--seconds`` -> [trace: restart the context with a Spark event log,
measure again with spans, time each layer as the difference of
cumulative pipeline prefixes] -> stop everything.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOAD_NAMES = ("flagship_tiles", "query_mix")
#: task slots of the measured level (local[CORES]): on this 4-vCPU host,
#: runs at local[4] of one seed swung by up to 2x
CORES = 2
#: CPUs pinned per task slot: one for the task, one for what serves it
#: (its Python worker, the JIT and GC threads)
CPUS_PER_CORE = 2
#: set-ups per run; setup_s is their median
SETUPS = 3
#: iterations of the reference loop, and its time on the nominal host:
#: the *_ref metrics read as if the host ran the loop in REF_LOOP_S
REF_LOOP_N = 50_000
REF_LOOP_S = 0.0045
#: repetitions behind each traced prefix time
TRACE_REPS = 3

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "work_per_s_ref": "1/s",
              "op_p50_s_ref": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "sources.gen_s": "s",
    "sources.scan_s": "s", "extract.self_s": "s", "extract.anchors": "count",
    "transform.self_s": "s", "transform.kernel_s": "s",
    "transform.crossing_s": "s", "transform.python_s": "s",
    "tiles.self_s": "s",
    "pip.prefilter_s": "s", "pip.exact_s": "s", "pip.exact_kernel_s": "s",
    "pip.candidates": "count", "pip.hits": "count", "pip.hit_ratio": "ratio",
    "pip.task_skew": "ratio",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "spark.tasks": "count", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.task_skew": "ratio",
    "flagship.eff_1to2": "ratio", "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, the per-query ones included."""
    from perfbench.workloads import load_mix
    units = dict(PER_LAYER)
    for q in load_mix():
        units[f"queries.{q}.build_s"] = "s"
        units[f"queries.{q}.exec_s"] = "s"
    return units


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    ten samples beyond it. Below 21 samples that would fall under the
    median, so the maximum is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


class Run:
    def __init__(self, args):
        from perfbench import machine
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
        self.args = args
        self.m = machine
        self.cpus = machine.pin(CPUS_PER_CORE * CORES)
        self.work = os.path.join(REPO, ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        self.session = machine.Session(self.work, CORES, REPO)
        self.wl = WORKLOADS[args.workload](args.seed, args.smoke)
        self.tracer = Tracer(f"{args.workload}-{args.seed}")
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.rec: dict = {}

    # -- phases ------------------------------------------------------------
    def setup(self) -> list[float]:
        """Launch the JVM and make the inputs once (not part of setup_s),
        then set up SETUPS times: new context, input check, warm-up."""
        with self.tracer.span("launch"):
            t0 = time.perf_counter()
            spark = self.session.start()
            t1 = time.perf_counter()
            self.wl.make_inputs(spark, os.path.join(self.work, "in"))
            t2 = time.perf_counter()
        self.rec["launch_s"], self.rec["gen_s"] = t1 - t0, t2 - t1
        parts = {"start": [], "check": [], "warm": []}
        totals = []
        for k in range(SETUPS):
            self.session.stop()
            with self.tracer.span("setup", k=k):
                t0 = time.perf_counter()
                spark = self.session.start()
                t1 = time.perf_counter()
                self.wl.check_inputs(spark)
                t2 = time.perf_counter()
                self.wl.warm(spark)
                t3 = time.perf_counter()
            for key, v in zip(parts, (t1 - t0, t2 - t1, t3 - t2)):
                parts[key].append(v)
            totals.append(t3 - t0)
        self.rec["setup"] = {"total": totals, **parts}
        return totals

    def check(self) -> None:
        with self.tracer.span("check"):
            try:
                n, fails = self.wl.check(self.session.spark)
            except Exception as e:  # noqa: BLE001 - a failed check counts
                traceback.print_exc(file=sys.stderr)
                n, fails = 1, [f"check raised {type(e).__name__}: {e}"]
        self.attempted += n
        self.failed += len(fails)
        self.failures += fails
        # the check's garbage (collected results, the oracle's tables) is
        # freed here, not during the first timed operation
        gc.collect()
        self.session.spark.sparkContext._jvm.java.lang.System.gc()

    def measure(self, seconds: float, tag: str, ramp_s: float) -> dict:
        """Whole passes: untimed ones until ``ramp_s`` has passed, then
        timed ones until ``seconds`` has and there are at least the
        workload's ``min_passes``."""
        spark = self.session.spark
        t_ramp = time.perf_counter()
        while time.perf_counter() - t_ramp < ramp_s:
            for op in self.wl.passes(-1):
                op.run(spark)
        lat, pass_s, builds, execs, ref = [], [], [], [], []
        n = 0
        stolen = self.m.steal_s(self.cpus)
        t_start = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            with self.tracer.span(f"{tag}.pass", n=n):
                for op in self.wl.passes(n):
                    ref.append(reference_loop(self.cpus))
                    self.attempted += 1
                    try:
                        with self.tracer.span(f"{tag}.op", op=op.name):
                            b, e = op.run(spark, group=f"{tag}:{n}:{op.name}")
                    except Exception as ex:  # noqa: BLE001 - counted
                        traceback.print_exc(file=sys.stderr)
                        self.failed += 1
                        self.failures.append(f"{op.name}: {ex}"[:300])
                        continue
                    lat.append(b + e)
                    builds.append((op.name, b))
                    execs.append((op.name, e))
            pass_s.append(time.perf_counter() - t_pass)
            n += 1
            if (time.perf_counter() - t_start >= seconds
                    and n >= self.wl.min_passes):
                break
        stolen = self.m.steal_s(self.cpus) - stolen
        steal_pct = 100.0 * stolen / (
            len(self.cpus) * (time.perf_counter() - t_start))
        units = sum(op.units for op in self.wl.passes(0))
        return {"lat": lat, "pass_s": pass_s, "units": units,
                "steal_pct": steal_pct, "ref_s": ref,
                "builds": builds, "execs": execs, "passes": n}

    def end_to_end(self, setups, meas, rss_mb) -> dict:
        """The bounded metrics. Throughput and latency are given at the
        nominal host speed: the measured figure, scaled by how much
        slower or faster than REF_LOOP_S the reference loop ran over the
        same passes. describe() prints them as measured, too."""
        value, pct, n = tail(meas["lat"])
        self.rec["tail"] = {"value": value, "percentile": pct, "samples": n}
        ops = op_medians(meas)
        self.rec["pass_s"] = sum(ops.values())
        self.rec["steal_pct"] = meas["steal_pct"]
        self.rec["ref_loop_s"] = statistics.median(meas["ref_s"])
        self.rec["work_per_s"] = meas["units"] / self.rec["pass_s"]
        self.rec["op_p50_s"] = statistics.median(ops.values())
        slow = self.rec["ref_loop_s"] / REF_LOOP_S
        return {"setup_s": statistics.median(setups),
                "peak_rss_mb": rss_mb,
                "work_per_s_ref": self.rec["work_per_s"] * slow,
                "op_p50_s_ref": self.rec["op_p50_s"] / slow}

    def describe(self, meas: dict) -> list[str]:
        """The throughput and latency as measured, under the names a user
        of this workload reads them by, the latency tail, the error rate
        and the host's speed. The tail is not bounded: a run holds too
        few operations for a percentile above the median with ten
        samples beyond it."""
        r, t = self.rec, self.rec["tail"]
        u = self.wl.unit
        lines = [f"{u}_per_s = {r['work_per_s']:.6g} {u}/s as measured"]
        if self.wl.name == "query_mix":
            lines += [f"mix_pass_s = {r['pass_s']:.6g}"
                      f" s over {meas['passes']} pass(es)",
                      f"query_p50_s = {r['op_p50_s']:.6g} s",
                      f"query_tail_s = {t['value']:.6g} s"]
        else:
            lines.append(f"op_p50_s = {r['op_p50_s']:.6g} s")
        lines.append(f"op_tail_s = {t['value']:.6g} s, p{t['percentile']:.1f}"
                     f" of {t['samples']} samples")
        lines.append(f"error_rate = {self.failed / self.attempted:.6g} "
                     f"({self.failed} of {self.attempted})")
        lines.append(f"reference loop = {1000 * r['ref_loop_s']:.4g} ms "
                     f"(nominal {1000 * REF_LOOP_S:.4g} ms); host steal = "
                     f"{r['steal_pct']:.2f}% of the pinned CPUs' time")
        return lines

    def traced(self, untraced: dict) -> tuple[dict, list[str]]:
        """Per-layer metrics, and the names this workload cannot measure
        because its pipeline has no such layer (reported as 0)."""
        from perfbench.trace import merge, reduce_event_log
        self.session.stop()
        self.session.event_log(True)
        spark = self.session.start()
        self.session.event_log(False)
        # one untimed pass respawns the Python workers; the JIT is warm
        meas = self.measure(self.args.seconds, "op", 1e-9)
        layer = {}
        if hasattr(self.wl, "trace"):
            layer.update(self.wl.trace(spark, self.tracer, TRACE_REPS))
        self.session.stop()              # flushes the event log
        groups = reduce_event_log(self.session.event_log_files())
        npass = meas["passes"]
        ops = merge(groups, "exec:op")
        build = merge(groups, "build:op")
        setup = self.rec["setup"]
        out = {"session.start_s": statistics.median(setup["start"]),
               "session.warmup_s": statistics.median(setup["warm"]),
               "sources.gen_s": self.rec["gen_s"]}
        out.update({k: v for k, v in layer.items() if not k.startswith("_")})
        if "_transform_group" in layer:
            acc = merge(groups, layer["_transform_group"])["acc"]
            out["transform.python_s"] = python_time_s(acc) / TRACE_REPS
        if "_pip_group" in layer:
            out["pip.task_skew"] = merge(groups, layer["_pip_group"])[
                "task_skew"]
        if self.wl.name == "query_mix":
            out.update(per_query(meas, npass))
            out["queries.build_jobs"] = build["jobs"] / npass
        for k in ("tasks", "shuffle_write_mb", "spill_mb", "gc_s"):
            out[f"spark.{k}"] = (ops[k] + build[k]) / npass
        out["spark.task_skew"] = ops["task_skew"]
        p_un = statistics.median(untraced["lat"])
        p_tr = statistics.median(meas["lat"])
        out["trace.overhead_pct"] = 100.0 * (p_tr - p_un) / p_un
        self.rec["event_log_groups"] = groups
        if self.wl.name == "flagship_tiles":
            out["flagship.eff_1to2"] = self.efficiency(p_un)
        missing = [k for k in per_layer_units() if k not in out]
        out.update(dict.fromkeys(missing, 0.0))
        return out, missing

    def efficiency(self, p50_n: float) -> float:
        """Throughput at CORES cores over CORES x throughput at 1 core,
        same input; the 1-core level runs in a pinned child process for
        half the run length, which keeps a traced run within its time
        limit."""
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", self.wl.name, "--seed", str(self.args.seed),
               "--seconds", str(self.args.seconds / 2), "--level", "1",
               "--input", self.wl.path]
        if self.args.smoke:
            cmd.append("--smoke")
        out = subprocess.run(cmd, capture_output=True, text=True,
                             cwd=REPO, timeout=150)
        if out.returncode != 0:
            raise RuntimeError("1-core level failed: " + out.stderr[-2000:])
        rec = json.loads(out.stdout.strip().splitlines()[-1])
        self.rec["level1"] = rec
        return rec["p50"] / (CORES * p50_n)


def reference_loop(cpus: list[int]) -> float:
    """Mean over ``cpus`` of the seconds a fixed pure-Python loop takes
    on each now (best of two). On a shared host each vCPU's speed swings
    by a fifth for minutes at a time, and not all of them together; the
    loop's time follows it. The calling thread is moved from CPU to CPU
    and put back on all of ``cpus``."""
    times = []
    try:
        for c in cpus:
            os.sched_setaffinity(0, {c})
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                x = 0
                for i in range(REF_LOOP_N):
                    x += i * i % 7
                best = min(best, time.perf_counter() - t0)
            times.append(best)
    finally:
        os.sched_setaffinity(0, cpus)
    return statistics.fmean(times)


def op_medians(meas: dict) -> dict[str, float]:
    """Each operation's median latency across the run's passes. Their sum
    is one pass's time, their median the latency of the median operation:
    a burst of host noise moves one sample of an operation, not the
    estimate, and the operations' differing speeds cannot make the median
    jump from one operation to the next between runs."""
    by_op: dict[str, list[float]] = {}
    for (q, b), (_, e) in zip(meas["builds"], meas["execs"]):
        by_op.setdefault(q, []).append(b + e)
    return {q: statistics.median(v) for q, v in by_op.items()}


def python_time_s(acc: dict) -> float:
    """Python-worker run time, summed over tasks, from the SQL metric
    of the Arrow-UDF nodes (milliseconds in the event log)."""
    return acc.get("time to run Python workers", 0.0) / 1000.0


def per_query(meas: dict, npass: int) -> dict:
    out = {}
    for kind, pairs in (("build", meas["builds"]), ("exec", meas["execs"])):
        by_q: dict[str, list[float]] = {}
        for q, v in pairs:
            by_q.setdefault(q, []).append(v)
        for q, vs in by_q.items():
            out[f"queries.{q}.{kind}_s"] = statistics.median(vs)
        out[f"queries.{kind}_s"] = sum(v for _, v in pairs) / npass
    return out


def level_child(args) -> None:
    """A pinned ``--level`` child: flagship repetitions on an existing
    input; prints {"p50", "times", "cpus"}."""
    from perfbench import machine
    from perfbench.workloads import WORKLOADS
    cpus = machine.pin(CPUS_PER_CORE * args.level)
    work = os.path.join(REPO, ".perfbench_work",
                        f"level{args.level}-{os.getpid()}")
    session = machine.Session(work, args.level, REPO)
    try:
        spark = session.start()
        wl = WORKLOADS[args.workload](args.seed, args.smoke)
        wl.path = args.input
        op = wl.passes(0)[0]
        op.run(spark)
        times = []
        t0 = time.perf_counter()
        while len(times) < 2 or time.perf_counter() - t0 < args.seconds:
            b, e = op.run(spark)
            times.append(b + e)
        print(json.dumps({"p50": statistics.median(times[1:]),
                          "times": times, "cpus": cpus}))
    finally:
        session.shutdown()
        machine.clean(work)


def smoke_all(args) -> int:
    """Every workload at its smoke size, each in its own process."""
    bad = []
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--smoke"]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                             timeout=600)
        last = out.stdout.strip().splitlines()[-1:] or ["{}"]
        ok = out.returncode == 0 and json.loads(last[0]).get("correct")
        print(f"# smoke {w}: {'ok' if ok else 'FAILED'}", flush=True)
        if not ok:
            sys.stderr.write(out.stdout[-3000:] + out.stderr[-3000:])
            bad.append(w)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOAD_NAMES,
                    help="required unless --smoke")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--level", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--input", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.smoke:
        args.seed = 1 if args.seed is None else args.seed
        args.seconds = 2.0 if args.seconds is None else args.seconds
    elif None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    sys.path.insert(0, REPO)
    # the program must be present: a directory holding only the
    # benchmark exits non-zero here, before any result is printed
    import pyproj_spark  # noqa: F401
    if args.workload is None:
        return smoke_all(args)
    if args.level:
        level_child(args)
        return 0

    from perfbench.machine import RssSampler
    run = Run(args)
    try:
        setups = run.setup()
        run.check()
        with RssSampler() as rss:
            meas = run.measure(args.seconds, "op", run.wl.ramp_s)
        metrics = run.end_to_end(setups, meas, rss.peak_mb)
        notes = run.describe(meas)
        units = END_TO_END
        if args.trace:
            metrics, missing = run.traced(meas)
            units = per_layer_units()
            if missing:
                notes.append(f"no such layer in {args.workload}, reported "
                             f"as 0: {' '.join(missing)}")
    finally:
        run.session.shutdown()
        run.m.wait_children()
        run.m.clean(run.work)
    levels = {CORES: run.cpus}
    if "level1" in run.rec:
        levels[1] = run.rec["level1"]["cpus"]
    shape = run.m.shape(levels)
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({"machine": shape, "metrics": metrics,
                   "failures": run.failures, **run.rec,
                   "samples": {k: meas[k]
                               for k in ("lat", "pass_s", "ref_s")}},
                  f, indent=1)
    print("# machine " + json.dumps(shape))
    for f in run.failures:
        print("# FAILED " + f)
    for line in notes:
        print("# " + line)
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

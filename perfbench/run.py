"""Seeded steady-state benchmark of the coastsat_spark engine.

    python3 perfbench/run.py --workload shoreline --seed 0 --seconds 10 --trace 0

Run from the repository root. One fresh process, pinned to CPUS CPUs, runs
one workload on local[CPUS] with CPUS shuffle partitions:

1. generate the seeded input once per (seed, docs) into perfbench/_work
   (`bench.gen_s`, never part of `setup_s`);
2. set up: start the session, open the input and count it (`setup_s`,
   measured from process start, generation excluded);
3. load the workload's fixture, if it has one (`bench.gen_s`);
4. warm up in-process for the workload's WARMUP_ITERS iterations;
5. run the closed loop for --seconds and at least MIN_TIMED_ITERS
   iterations: one client, each iteration one whole workload operation,
   timed; after each, untimed, check the output's row count and content
   digest;
6. print the metrics, the last line one JSON object.

--trace 1 runs the same warm-up and checked loop (for the Spark counters
and the untraced reference time), then traced iterations that replay the
workload layer by layer, and prints the per-layer table instead of the
end-to-end metrics. Every run prints that its latencies belong to the host
it ran on, not to any particular storage device.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The process tree (driver, JVM, Python workers) is pinned to CPUS of the
# machine's CPUs and runs local[CPUS]. On a shared 4-vCPU VM the host takes
# busy vCPUs back under load (steal): in interleaved runs over six seeds in a
# loaded period, local[4] on all 4 vCPUs spread 38 % (shoreline) and 13 %
# (dedup) in median wall time, local[2] on 2 pinned vCPUs 12 % and 4 %
CPUS = 2
# a fixed, pre-touched driver heap keeps GC heap sizing out of peak_rss_mb
DRIVER_MEMORY = "2g"
DEFAULT_DOCS = 30_000
# untimed warm-up iterations per workload. A fixed count, not a time: a
# time-boxed warm-up ends earlier in the JIT's speed-up on a slower host,
# which then also slows the timed iterations and widens the spread. The
# counts are what a run's time allows; iterations still speed up after them
# (bench.drift_frac in the traced run shows by how much)
WARMUP_ITERS = {"shoreline": 2, "dedup": 3, "tile_ingest": 2}
MIN_TIMED_ITERS = 3

# (workload, seed, docs) -> (rows, digest) of the output at the default
# seed; other seeds require every iteration of a run to agree
PINS: dict[tuple[str, int, int], tuple[int, int]] = {
    ("shoreline", 0, DEFAULT_DOCS): (125, 21238061283872995659),
    ("dedup", 0, DEFAULT_DOCS): (4436, -193097827997389013971),
    ("tile_ingest", 0, DEFAULT_DOCS): (30000, -959793113999436387175),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["shoreline", "dedup", "tile_ingest"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS, help="input docs per iteration")
    p.add_argument("--iters", type=int, default=0, help="fixed timed iteration count")
    p.add_argument("--warmup-iters", type=int, default=0,
                   help="warm-up iteration count, replacing the workload's own")
    p.add_argument("--pin-digest", type=int, default=None,
                   help="expected output digest, replacing the pinned one")
    p.add_argument("--work-dir", default=os.path.join(HERE, "_work"))
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the work directory and make
    the repository importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_LOCAL_DIRS", None)


def start_spark(work: str):
    from coastsat_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    from perfbench.procmem import alive, tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # the worker daemon exits when the JVM's pipe closes
    deadline = time.monotonic() + 60
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)


class Loop:
    """The closed loop: one client, the next iteration only after the
    previous one returned. Every timed iteration's output is checked
    outside its timed region; an exception or a mismatch counts as failed."""

    def __init__(self, wl, sc, run_id: str, expected):
        self.wl = wl
        self.sc = sc
        self.run_id = run_id
        self.expected = expected  # (rows | None, digest), or None: all must agree
        self.reference = None
        self.last = None  # (rows, digest) of the latest checked iteration
        self.times: list[float] = []
        self.groups: list[str] = []  # Spark job group of each timed iteration
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def iteration(self, check: bool) -> float:
        self.n += 1
        group = f"{self.run_id}/it{self.n}"
        self.sc.setJobGroup(group, "iteration")
        t0 = time.perf_counter()
        dt = None
        try:
            handle = self.wl.run()
            dt = time.perf_counter() - t0
            self.sc.setJobGroup(f"{group}/check", "untimed output check")
            got = self.wl.finish(handle, check)
        except Exception:
            if dt is None:  # the operation itself raised
                dt = time.perf_counter() - t0
            traceback.print_exc()
            got = None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        if check:
            self.attempted += 1
            self.times.append(dt)
            self.groups.append(group)
            self.last = got
            if got is None or not self.ok(got):
                self.failed += 1
                print(f"perfbench: iteration {self.n} output {got}, expected "
                      f"{self.expected or self.reference}", file=sys.stderr)
        return dt

    def ok(self, got) -> bool:
        rows, dg = got
        if rows < 0:
            return False
        if self.expected is not None:
            want_rows, want_dg = self.expected
            return dg == want_dg and (want_rows is None or rows == want_rows)
        if self.reference is None:
            self.reference = got
        return got == self.reference


def warm_up(loop: Loop, iters: int) -> tuple[float, list[float]]:
    """`iters` untimed iterations."""
    t0 = time.perf_counter()
    times = [loop.iteration(check=False) for _ in range(iters)]
    return time.perf_counter() - t0, times


def timed_loop(loop: Loop, seconds: float, fixed: int) -> None:
    t0 = time.perf_counter()
    while True:
        loop.iteration(check=True)
        if fixed:
            if loop.attempted >= fixed:
                return
        elif time.perf_counter() - t0 >= seconds and loop.attempted >= MIN_TIMED_ITERS:
            return


def drift_frac(times: list[float]) -> float:
    """Median of the first half of the timed iterations over the median of
    the second half, minus 1: near 0 once warm-up has removed the drift."""
    h = len(times) // 2
    if h == 0:
        return 0.0
    return statistics.median(times[:h]) / statistics.median(times[h:]) - 1.0


def main(argv=None) -> int:
    args = parse_args(argv)
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CPUS])
    if not os.path.isdir(os.path.join(ROOT, "coastsat_spark")):
        print(f"perfbench: no coastsat_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procmem

    age = procmem.ProcessAge()
    os.makedirs(args.work_dir, exist_ok=True)
    configure_env(args.work_dir)

    from perfbench import fixture

    data_dir = os.path.join(args.work_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    t = time.perf_counter()
    docs_path = fixture.ensure_docs(data_dir, args.seed, args.docs, CPUS)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_spark(args.work_dir)
    session_start_s = time.perf_counter() - t
    try:
        result = measure(args, spark, age, docs_path, gen_s, session_start_s)
    finally:
        stop_spark(spark)
    print(json.dumps(result), flush=True)
    return 0


def measure(args, spark, age, docs_path: str, gen_s: float, session_start_s: float) -> dict:
    """Everything after the session is up: open the input, load the
    fixture, warm up, run the timed loop (and the traced one) and print
    the report; returns the result object."""
    from perfbench import metrics, procmem
    from perfbench.workloads import WORKLOAD_CLASSES
    from tools.noise_probe import triad_gbps

    t = time.perf_counter()
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    session_open_s = time.perf_counter() - t
    setup_s = age.now() - gen_s
    if n_docs != args.docs:
        raise RuntimeError(f"input has {n_docs} rows, expected {args.docs}")

    sc = spark.sparkContext
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    ctx = {"work_dir": args.work_dir, "docs_path": docs_path}
    wl = WORKLOAD_CLASSES[args.workload](spark, docs, n_docs, ctx)
    t = time.perf_counter()
    wl.prepare()
    gen_s += time.perf_counter() - t

    expected = PINS.get((args.workload, args.seed, args.docs))
    if args.pin_digest is not None:
        expected = (expected[0] if expected else None, args.pin_digest)
    loop = Loop(wl, sc, run_id, expected)

    triad_before = triad_gbps(8_000_000)
    load1 = os.getloadavg()[0]
    warm_s, warm_times = warm_up(loop, args.warmup_iters or WARMUP_ITERS[args.workload])
    mem = procmem.TreePeak(os.getpid())
    mem.start()
    steal0 = procmem.cpu_steal()
    timed_loop(loop, args.seconds, args.iters)
    steal_frac = procmem.steal_frac(steal0, procmem.cpu_steal())
    peak_mb = mem.stop_mb()
    triad_after = triad_gbps(8_000_000)

    print(f"perfbench: workload={args.workload} seed={args.seed} docs={n_docs} "
          f"local[{CPUS}] nproc={os.cpu_count()}; latencies are this sandbox's "
          "(shared VM, virtual disk), not a device's")
    print(f"env.triad_gbps_before={triad_before:.3f} env.triad_gbps_after={triad_after:.3f} "
          f"env.load1={load1:.2f} env.steal_frac={steal_frac:.3f}")
    print(f"bench.gen_s={gen_s:.3f} bench.warmup_s={warm_s:.3f} "
          f"bench.warmup_iters={len(warm_times)} warmup_times={[round(x, 3) for x in warm_times]}")
    print(f"timed iterations={len(loop.times)} times={[round(x, 3) for x in loop.times]} "
          f"drift={drift_frac(loop.times):+.3f}")
    print(f"output (rows, digest)={loop.last}")

    if args.trace:
        out = traced_metrics(args, spark, wl, loop, run_id, {
            "session.start_s": session_start_s,
            "session.open_s": session_open_s,
            "bench.gen_s": gen_s,
            "bench.warmup_s": warm_s,
            "bench.warmup_iters": len(warm_times),
            "bench.drift_frac": drift_frac(loop.times),
        })
    else:
        wall_s = statistics.median(loop.times)
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "docs_per_s": n_docs / wall_s,
            "peak_rss_mb": peak_mb,
        }
        for k, v in e2e.items():
            print(f"{k:<12} {v:.4f} {metrics.END_TO_END[k][0]}")
        if args.workload == "tile_ingest":
            print(f"write_amp    {wl.write_amp:.4f} ratio")
        print(f"ops          {loop.attempted} count")
        print(f"ops_failed   {loop.failed} count")
        out = {k: metrics.metric(k, v) for k, v in e2e.items()}
    return {
        "correct": loop.failed == 0 and loop.attempted > 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": out,
    }


# traced span name -> (its self-time metric, {span count: metric})
SPAN_METRICS = {
    "iteration": ("bench.other_s", {}),
    "tiling.prepare": ("tiling.prepare_s", {"rows": "tiling.prepare_rows"}),
    "tiling.adaptive": ("tiling.adaptive_s", {}),
    "raster.aggregate": ("raster.aggregate_s", {"pixels": "raster.pixels"}),
    "raster.quality": ("raster.quality_s", {"scenes_kept": "raster.scenes_kept"}),
    "raster.extract": ("raster.extract_s", {"points": "raster.points"}),
    "transects.join": ("transects.join_s", {"pairs": "transects.pairs",
                                            "ts_rows": "transects.ts_rows"}),
    "pipeline.build": ("pipeline.build_s", {"jobs": "pipeline.build_jobs"}),
    "dedup.band_keys": ("dedup.band_keys_s", {}),
    "dedup.build": ("dedup.build_s", {"jobs": "dedup.build_jobs"}),
    "dedup.action": ("dedup.action_s", {"n_dup": "dedup.n_dup"}),
    "sinks.overwrite": ("sinks.overwrite_s", {}),
    "sinks.read": ("sinks.read_s", {}),
}


def traced_metrics(args, spark, wl, loop, run_id: str, bench: dict) -> dict:
    """Traced iterations after the untraced loop; returns every per-layer
    metric, 0 for the layers this workload leaves idle."""
    from perfbench import metrics, tracing

    sc = spark.sparkContext
    tr = tracing.Tracer(sc, run_id)
    traced_walls = []
    want_rows = (loop.expected or loop.reference or (None,))[0]
    t0 = time.perf_counter()
    while True:
        tr.iteration = len(traced_walls) + 1
        loop.attempted += 1
        try:
            with tr.span("iteration") as root:
                rows = wl.traced(tr)
            if want_rows is not None and rows != want_rows:
                loop.failed += 1
                print(f"perfbench: traced iteration gave {rows} rows, expected {want_rows}",
                      file=sys.stderr)
        except Exception:
            traceback.print_exc()
            loop.failed += 1
        traced_walls.append(root["end"] - root["start"])
        if args.iters:
            if len(traced_walls) >= args.iters:
                break
        elif time.perf_counter() - t0 >= args.seconds and len(traced_walls) >= 2:
            break
    os.makedirs(os.path.join(args.work_dir, "traces"), exist_ok=True)
    spans_path = os.path.join(args.work_dir, "traces", f"{run_id}.jsonl")
    tr.write(spans_path)
    errs = tracing.nesting_errors(tr.spans)
    if errs:
        loop.failed += 1
        print("perfbench: span nesting errors:\n  " + "\n  ".join(errs), file=sys.stderr)

    table = tracing.layer_table(tr.spans)
    print("layer table (median over traced iterations; self = span minus child spans)")
    print(tracing.format_table(table))
    print(f"spans: {spans_path}")

    vals = {k: 0 for k in metrics.PER_LAYER}
    vals.update(bench)
    for name, row in table.items():
        t_name, counts = SPAN_METRICS[name]
        vals[t_name] = row["self_s"]
        for c, m in counts.items():
            vals[m] = row["counts"][c]
    vals.update(wl.layer_counts())
    per_iter = [tracing.job_counts(sc, g) for g in loop.groups]
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        vals[f"spark.{k}"] = statistics.median(c[k] for c in per_iter)
    vals["trace.overhead_frac"] = (
        statistics.median(traced_walls) / statistics.median(loop.times) - 1.0
    )
    for k, (unit, _, moves, on) in metrics.PER_LAYER.items():
        print(f"{k:<24} {vals[k]:>14.4f} {unit:<6} moves {moves} on {','.join(on)}")
    return {k: metrics.metric(k, vals[k]) for k in metrics.PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())

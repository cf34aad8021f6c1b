"""Per-stage metrics of a job group, read from the in-process status
store: where a query's time and bytes went, with the Spark UI off (the
session default) and no REST API.

`stage_rows` gives one row per stage that ran tasks for the group's
jobs: stage wall time (first task launch to completion), summed task
run time and CPU time, input bytes and shuffle bytes. Run time versus
CPU time is the split that separates compute from waiting (shuffle
fetch, spill, the Python worker round trip). `task_rows` gives one
stage's per-task durations and shuffle records read, for skew.

`main` runs one named `__spark_entry__.queries()` entry into a `noop`
sink twice, once to warm up and once measured under a job group, and
prints one JSON record: wall time, jobs, stage rows, map versus
exchange totals, and the ambient DRAM triad before and after.

Usage: python tools/stage_report.py <query> [sf_dir] [cpus] [out_json]
(sf_dir defaults to the tables tools/check_oracles.py reads.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.noise_probe import triad_gbps


def _each(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _secs(opt_date):
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


def stage_rows(sc, group: str) -> list[dict]:
    """One row per stage attempt that ran tasks for the jobs of `group`.
    Stages skipped because a reused shuffle already holds their output
    run no tasks and are left out."""
    jsc = sc._jsc.sc()
    # the store is fed by the listener bus; drain it so the group's last
    # stage-completed events are in
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        stage_ids.update(info.stageIds if info else [])
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    rows = []
    for sid in sorted(stage_ids):
        for s in _each(store.stageData(sid, False, no_status, False, no_quantiles)):
            if s.numCompleteTasks() == 0:
                continue
            start, end = _secs(s.firstTaskLaunchedTime()), _secs(s.completionTime())
            run_s = s.executorRunTime() / 1e3
            cpu_s = s.executorCpuTime() / 1e9
            rows.append(
                {
                    "stage": sid,
                    "attempt": s.attemptId(),
                    "name": s.name()[:60],
                    "tasks": s.numCompleteTasks(),
                    "wall_s": round(end - start, 3) if start and end else None,
                    "run_s": run_s,
                    "cpu_s": round(cpu_s, 6),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "cpu_over_run": round(cpu_s / run_s, 3) if run_s else None,
                }
            )
    return rows


def task_rows(sc, stage_id: int, attempt: int = 0) -> list[dict]:
    """Duration and shuffle records read of every task of one stage attempt."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for t in _each(jsc.statusStore().taskList(stage_id, attempt, 2**31 - 1)):
        m = t.taskMetrics()
        out.append(
            {
                "duration_s": t.duration().get() / 1e3 if t.duration().isDefined() else 0.0,
                "records": m.get().shuffleReadMetrics().recordsRead() if m.isDefined() else 0,
            }
        )
    return out


def _split(rows: list[dict]) -> dict:
    """Map stages (no shuffle read: scan, expressions, Python kernels)
    versus exchange stages (the reduce side of a shuffle)."""
    out = {}
    for kind, part in (
        ("map", [r for r in rows if r["shuffle_read_bytes"] == 0]),
        ("exchange", [r for r in rows if r["shuffle_read_bytes"] > 0]),
    ):
        run = sum(r["run_s"] for r in part)
        out[f"{kind}_stages"] = len(part)
        out[f"{kind}_wall_s"] = round(sum(r["wall_s"] or 0 for r in part), 3)
        out[f"{kind}_cpu_over_run"] = round(sum(r["cpu_s"] for r in part) / run, 3) if run else None
    out["shuffle_write_bytes"] = sum(r["shuffle_write_bytes"] for r in rows)
    out["shuffle_read_bytes"] = sum(r["shuffle_read_bytes"] for r in rows)
    return out


def _report(spark, name: str, query, sf_dir: str) -> dict:
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def run() -> None:
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warm-up: JIT, Python workers, page cache
    # a persist inside the query must not serve the measured run
    spark.catalog.clearCache()
    triad_before = triad_gbps(8_000_000)
    group = f"stage_report/{name}"
    # the group covers building the plan too: an operator that collects
    # on the driver while building fires its jobs there
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    rows = stage_rows(sc, group)
    return {
        "query": name,
        "sf_dir": sf_dir,
        "cpus": sc.defaultParallelism,
        "wall_s": round(wall, 3),
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "triad_gbps": {"before": round(triad_before, 3), "after": round(triad_gbps(8_000_000), 3)},
        "totals": _split(rows),
        "stages": rows,
    }


def main() -> None:
    import __spark_entry__
    from coastsat_spark.session import get_spark
    from tools.check_oracles import SF_DIR

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else SF_DIR
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else None
    out_path = sys.argv[4] if len(sys.argv) > 4 else None
    query = __spark_entry__.queries()[name]

    spark = get_spark(
        app_name=f"stage_report_{name}", cpus=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        out = _report(spark, name, query, sf_dir)
    finally:
        spark.stop()
    blob = json.dumps(out, indent=1)
    print(blob)
    if out_path:
        with open(out_path, "w") as f:
            f.write(blob + "\n")


if __name__ == "__main__":
    main()

"""Skewed-world demonstration of the adaptive-tile split (round-5 item:
the north rule's skew requirement, measured rather than asserted).

datagen plants Zipf coastal clusters (ZIPF_POWER=2.5 over 12 clusters:
the hottest holds ~37% of ALL documents inside ~1 coarse cell —
datagen.py:97-105), the engine's worst case for any shuffle keyed by the
raw tile: one reducer owns a third of the corpus while 31 idle. This
study runs the scene-group shuffle shape (repartition by tile ->
key-sorted mapInPandas kernel with per-row numpy cost, exactly
extract_shorelines' execution shape) twice on the same input:

  off: key = fixed coarse cell  (encode_cell at base_res)
  on : key = adaptive_tiles(...)  (hot cells re-keyed 1-4 levels finer,
       the quad-split defense of operators/tiling.py:229)

and records, from the in-process status store (tools/stage_report.py),
the kernel stage's PER-TASK durations + shuffle-read record counts:
max/median and p99/median task time, plus the partition row-count
spread. Done-criterion from the round-4 verdict: with the split ON, p99
task time within ~2x median on the skewed world. The reference analog
is the 100 km^2 GEE tile cap (README.md:157) — a size bound on any one
unit of work.

Ambient DRAM bandwidth is sampled once before and once after the two
variants (shared-host honesty; see BENCH/noise_log.jsonl). A probe
taken DURING a stage would compete with Spark's own worker threads and
read the job's self-contention, not the co-tenant.

Usage: python tools/skew_study.py [sf] [cpus] [base_res] [out_json]
Writes BENCH/skew_study_sf{sf}.json (also printed).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from coastsat_spark.datagen import ensure_webpages
from coastsat_spark.functions import cells
from coastsat_spark.operators import tiling
from coastsat_spark.session import get_spark
from perfbench.workloads import CAP_AT_180K
from tools.noise_probe import triad_gbps
from tools.stage_report import stage_rows, task_rows


def _kernel(batches):
    # per-row numpy cost (fixed iteration count) so task wall time is
    # proportional to partition row count — the stand-in for the real
    # per-scene contour kernel, whose cost also scales with group size
    import pandas as pd

    n = 0
    acc = 0.0
    for pdf in batches:
        v = pdf["lat"].to_numpy(dtype=np.float64)
        for _ in range(32):
            v = np.sin(v) * 1.0000001
        acc += float(v.sum())
        n += len(pdf)
    yield pd.DataFrame({"n": [n], "acc": [acc]})


def run_variant(
    spark, geo, adaptive: bool, base_res: int, cap: int, rep_n: int
) -> dict:
    if adaptive:
        # 5 levels: the planted cluster is point-like (sigma 1.5 deg vs a
        # 22.5 deg base cell), so the quad-split must recurse to ~res 8-9
        # before the hot cell's rows actually spread across children
        keyed = tiling.adaptive_tiles(
            geo, base_res=base_res, cap=cap, max_levels=5
        )
    else:
        keyed = geo.withColumn(
            "atile", cells.encode_cell(F.col("lat"), F.col("lon"), base_res)
        )
    # materialize the keyed input BEFORE the timed region: the ON
    # variant's key derivation is a 5-level count/broadcast chain that a
    # production pipeline computes once per world, and leaving it lazy
    # put ~55 s of repeated chain evaluation inside the ON timer at
    # sf0.1 — the study's claim is about the SHUFFLE+KERNEL stage, so
    # only that may sit between t0 and wall
    keyed = keyed.select("atile", "lat").persist()
    keyed.count()
    # explicit partition count > #keys reduces same-partition collisions
    # of two hot keys (balls-in-bins), so task metrics measure KEY skew,
    # not hash accidents; AQE coalescing is disabled in this session so
    # every reducer is a real task
    rep = keyed.repartition(rep_n, "atile").sortWithinPartitions("atile")
    job = rep.mapInPandas(_kernel, schema="n long, acc double")

    sc = spark.sparkContext
    group = f"skew_study/{'on' if adaptive else 'off'}"
    sc.setJobGroup(group, "scene-group shuffle + kernel")
    t0 = time.perf_counter()
    total_rows = job.agg(F.sum("n")).collect()[0][0]
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)

    # the kernel stage is the group's stage that reads the most shuffle
    # bytes (the repartition exchange's reducer side)
    stages = [s for s in stage_rows(sc, group) if s["shuffle_read_bytes"] > 0]
    stages.sort(key=lambda s: s["shuffle_read_bytes"], reverse=True)
    tasks = task_rows(sc, stages[0]["stage"], stages[0]["attempt"]) if stages else []
    # quantiles over NON-EMPTY tasks: rep_n > #keys means many reducers
    # own zero keys and finish instantly — including them would flatter
    # the median and inflate every ratio
    busy = [t for t in tasks if t["records"] > 0]
    durs = sorted(t["duration_s"] for t in busy)
    recs = sorted(t["records"] for t in busy)

    def q(xs, p):
        if not xs:
            return None
        i = min(len(xs) - 1, int(round(p * (len(xs) - 1))))
        return round(xs[i], 3)

    med = q(durs, 0.5) or 1e-9
    # noise-free skew witness: per-KEY row counts straight from a JVM
    # aggregate (independent of bursts, scheduling and hash collisions)
    kstats = (
        keyed.groupBy("atile")
        .agg(F.count(F.lit(1)).alias("kn"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.expr("percentile(kn, 0.5)").alias("med"),
            F.expr("percentile(kn, 0.99)").alias("p99"),
            F.max("kn").alias("mx"),
        )
        .collect()[0]
    )
    keyed.unpersist()
    return {
        "adaptive": adaptive,
        "wall_s": round(wall, 3),
        "rows": int(total_rows),
        "n_task": len(tasks),
        "n_busy_task": len(busy),
        "n_distinct_keys": int(kstats["n_keys"]),
        "key_rows": {
            "median": round(float(kstats["med"]), 1),
            "p99": round(float(kstats["p99"]), 1),
            "max": int(kstats["mx"]),
            "max_frac_of_total": round(int(kstats["mx"]) / max(int(total_rows), 1), 4),
        },
        "task_duration_s": {
            "median": q(durs, 0.5),
            "p95": q(durs, 0.95),
            "p99": q(durs, 0.99),
            "max": q(durs, 1.0),
        },
        "p99_over_median": round((q(durs, 0.99) or 0) / med, 2),
        "max_over_median": round((q(durs, 1.0) or 0) / med, 2),
        "task_records": {
            "median": q(recs, 0.5),
            "p99": q(recs, 0.99),
            "max": q(recs, 1.0),
        },
    }


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 16.0
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    base_res = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_txt = int(sf) if sf == int(sf) else sf
    out_path = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH",
            f"skew_study_sf{sf_txt}.json",
        )
    )

    spark = get_spark(
        app_name="skew_study",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # per-reducer tasks must stay 1:1 with shuffle partitions —
            # coalescing would merge small partitions and hide the
            # hot-task / median contrast this study exists to measure
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # the sf16 run of 2026-08-18 lost a Python worker with no
            # traceback; keep the faulthandler on so any repeat is
            # diagnosable from the executor log
            "spark.python.worker.faulthandler.enabled": "true",
        },
        tmpfs_local_dir=True,
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(ensure_webpages(spark, sf))
    # geotag parse once, persisted: both variants key the SAME input, so
    # the measured delta is purely the shuffle/kernel skew
    geo = (
        tiling.with_geo(docs)
        .filter(F.col("lat").isNotNull())
        .select("lat", "lon")
        .persist()
    )
    n = geo.count()
    # the hot cap scales with the input and has no floor, so hot cells
    # split at any sf (a 50,000 floor kept every cell whole below ~130k docs)
    cap = max(1, round(CAP_AT_180K * n / 180_000))
    rep_n = 8 * cpus

    # warm the Python worker pool before the first timed variant: the
    # first mapInPandas stage of a session pays one fork+import per core
    # (~2.5 s each observed), which otherwise lands entirely on the OFF
    # variant and flattens its task-skew ratios
    spark.range(0, cpus * 4, 1, cpus * 4).selectExpr(
        "cast(id as double) as lat", "'0' as atile"
    ).mapInPandas(_kernel, schema="n long, acc double").agg(F.sum("n")).collect()

    triad_before = triad_gbps(8_000_000)
    off = run_variant(
        spark, geo, adaptive=False, base_res=base_res, cap=cap, rep_n=rep_n
    )
    on = run_variant(
        spark, geo, adaptive=True, base_res=base_res, cap=cap, rep_n=rep_n
    )
    triad_after = triad_gbps(8_000_000)

    out = {
        "sf": sf,
        "cpus": cpus,
        "n_docs": n,
        "base_res": base_res,
        "cap": cap,
        "zipf": {"power": 2.5, "clusters": 12, "hottest_share": "~0.37"},
        "off": off,
        "on": on,
        "speedup_on_vs_off": round(off["wall_s"] / max(on["wall_s"], 1e-9), 2),
        "triad_gbps": {"before": round(triad_before, 3), "after": round(triad_after, 3)},
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

"""Every metric the benchmark reports: name, unit, direction, and for each
per-layer metric the end-to-end metric and workloads it should move.

BENCHMARK.json lists the same names; the smoke test keeps the two in step.
"""

from __future__ import annotations

# BENCHMARK.json lists shoreline and dedup. tile_ingest (re-tile every other
# month and commit it as a snapshot: the only writer and the only user of
# adaptive tiling) runs by hand with --workload tile_ingest: with its table
# preload a run costs 60-75 s on a 4-vCPU VM, more than the benchmark's total
# time allows for a third workload
WORKLOADS = ("shoreline", "dedup", "tile_ingest")

# name -> (unit, better); printed by every untraced run
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, end-to-end metric it should move, workloads);
# printed by every traced run, 0 where the workload leaves a layer idle
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", WORKLOADS),
    "session.open_s": ("s", "lower", "setup_s", WORKLOADS),
    "tiling.prepare_s": ("s", "lower", "wall_s", ("shoreline", "tile_ingest")),
    "tiling.prepare_rows": ("count", "higher", "wall_s", ("shoreline", "tile_ingest")),
    "tiling.adaptive_s": ("s", "lower", "wall_s", ("tile_ingest",)),
    "tiling.adaptive_scans": ("count", "lower", "wall_s", ("tile_ingest",)),
    "tiling.atiles": ("count", "higher", "wall_s", ("tile_ingest",)),
    "raster.aggregate_s": ("s", "lower", "wall_s", ("shoreline",)),
    "raster.pixels": ("count", "higher", "wall_s", ("shoreline",)),
    "raster.quality_s": ("s", "lower", "wall_s", ("shoreline",)),
    "raster.scenes_kept": ("count", "higher", "wall_s", ("shoreline",)),
    "raster.extract_s": ("s", "lower", "wall_s", ("shoreline",)),
    "raster.points": ("count", "higher", "wall_s", ("shoreline",)),
    "transects.join_s": ("s", "lower", "wall_s", ("shoreline",)),
    "transects.pairs": ("count", "higher", "wall_s", ("shoreline",)),
    "transects.ts_rows": ("count", "higher", "wall_s", ("shoreline",)),
    "pipeline.build_s": ("s", "lower", "wall_s", ("shoreline",)),
    "pipeline.build_jobs": ("count", "lower", "wall_s", ("shoreline",)),
    "dedup.band_keys_s": ("s", "lower", "wall_s", ("dedup",)),
    "dedup.build_s": ("s", "lower", "wall_s", ("dedup",)),
    "dedup.build_jobs": ("count", "lower", "wall_s", ("dedup",)),
    "dedup.action_s": ("s", "lower", "wall_s", ("dedup",)),
    "dedup.n_dup": ("count", "higher", "peak_rss_mb", ("dedup",)),
    "sinks.overwrite_s": ("s", "lower", "wall_s", ("tile_ingest",)),
    "sinks.files_written": ("count", "lower", "wall_s", ("tile_ingest",)),
    "sinks.files_linked": ("count", "higher", "wall_s", ("tile_ingest",)),
    "sinks.bytes_written": ("bytes", "lower", "wall_s", ("tile_ingest",)),
    "sinks.versions_retained": ("count", "lower", "wall_s", ("tile_ingest",)),
    "sinks.write_amp": ("ratio", "lower", "wall_s", ("tile_ingest",)),
    "sinks.read_s": ("s", "lower", "wall_s", ("tile_ingest",)),
    "spark.jobs": ("count", "lower", "wall_s", WORKLOADS),
    "spark.stages": ("count", "lower", "wall_s", WORKLOADS),
    "spark.tasks": ("count", "lower", "wall_s", WORKLOADS),
    "spark.tasks_failed": ("count", "lower", "wall_s", WORKLOADS),
    "bench.gen_s": ("s", "lower", "none", WORKLOADS),
    "bench.warmup_s": ("s", "lower", "none", WORKLOADS),
    "bench.warmup_iters": ("count", "lower", "none", WORKLOADS),
    "bench.drift_frac": ("ratio", "lower", "wall_s", WORKLOADS),
    "bench.other_s": ("s", "lower", "wall_s", WORKLOADS),
    "trace.overhead_frac": ("ratio", "lower", "none", WORKLOADS),
}


def metric(name: str, value: float) -> dict:
    spec = END_TO_END.get(name) or PER_LAYER[name]
    return {"value": value, "unit": spec[0]}

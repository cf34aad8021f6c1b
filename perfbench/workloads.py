"""The three closed-loop workloads: one whole operation each (`run`, the
timed part), its untimed output check (`finish`), and a traced replay that
materializes each layer's output at its boundary (`traced`).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from coastsat_spark.operators import dedup, raster, sinks, tiling, transects
from coastsat_spark.plans import pipeline

from . import fixture

# the adaptive-tiling hot cap, stated at 180,000 docs and scaled with the
# input so both split levels fire at every size
CAP_AT_180K = 2_500


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, order-independent content digest): the sum of xxhash64 over
    all columns, doubles rounded to 6 places so a reordered float sum
    cannot flip the digest."""
    cols = [
        F.round(F.col(c), 6) if t in ("double", "float") else F.col(c) for c, t in df.dtypes
    ]
    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return int(row[0]), int(row[1] or 0)


def noop_sink(df: DataFrame, **aggs) -> dict:
    """Run `df` into a noop sink, observing its row count and any extra
    aggregates in the same pass (no extra job). On a persisted frame this
    fills the cache, materializing a layer's output at its boundary."""
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("rows")] + [a.alias(k) for k, a in aggs.items()]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def executed_scans(df: DataFrame) -> int:
    """Run `df` and count the leaf scans (file or cached) in its final
    adaptive plan; a subtree behind a reused exchange runs, and counts, once."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    final = qe.executedPlan().treeString().split("== Initial Plan ==")[0]
    n = 0
    for line in final.splitlines():
        node = line.lstrip(" :+-").lstrip("*(0123456789) ")
        if node.startswith(("FileScan", "Scan ", "InMemoryTableScan", "BatchScan")):
            n += 1
    return n


class Workload:
    name = ""

    def __init__(self, spark, docs: DataFrame, n_docs: int, ctx: dict):
        self.spark = spark
        self.docs = docs
        self.n_docs = n_docs
        self.ctx = ctx

    def prepare(self) -> None:
        """Fixture set-up beyond the input table (untimed, outside setup_s)."""

    def run(self):
        raise NotImplementedError

    def finish(self, handle, check: bool):
        """Release what `run` left behind; with `check`, return (rows, digest)
        of its output, rows -1 when the digest pass counts other rows than
        the operation did."""
        raise NotImplementedError

    def traced(self, tr) -> int:
        """One traced iteration; returns the output row count."""
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts measured outside spans (once per run)."""
        return {}


class Shoreline(Workload):
    """run_flagship + timeseries.count(): tiling, raster, transects, pipeline.

    The time series is counted through a cache so the untimed check reads
    exactly the rows the timed operation produced, without recomputing."""

    name = "shoreline"

    def run(self):
        res = pipeline.run_flagship(self.spark, self.docs)
        ts = res.timeseries.persist()
        return res, ts, ts.count()

    def finish(self, handle, check):
        res, ts, n = handle
        try:
            if check:
                rows, dg = digest(ts)
                return (n if rows == n else -1), dg
            return None
        finally:
            ts.unpersist()
            res.pixels.unpersist()

    def traced(self, tr) -> int:
        s = raster.ShorelineSettings()
        held: list[DataFrame] = []
        try:
            with tr.span("pipeline.build"):
                res = pipeline.run_flagship(self.spark, self.docs)
            held.append(res.pixels)
            with tr.span("tiling.prepare") as sp:
                prepared = tiling.prepare_documents(self.docs)
                held.append(prepared)
                sp["counts"]["rows"] = noop_sink(prepared.persist())["rows"]
            with tr.span("raster.aggregate") as sp:
                pixels = raster.aggregate_pixels(prepared)
                held.append(pixels)
                sp["counts"]["pixels"] = noop_sink(pixels.persist())["rows"]
            with tr.span("raster.quality") as sp:
                quality = raster.scene_quality(pixels, s)
                held.append(quality)
                m = noop_sink(quality.persist(), kept=F.sum(F.col("keep").cast("int")))
                sp["counts"]["scenes_kept"] = int(m["kept"] or 0)
            with tr.span("raster.extract") as sp:
                shorelines = raster.extract_shorelines(pixels, s, quality=quality)
                held.append(shorelines)
                sp["counts"]["points"] = noop_sink(shorelines.persist())["rows"]
            with tr.span("transects.join") as sp:
                tr_df = transects.transects_df(self.spark, 41)
                pairs = transects.transect_join(
                    shorelines.select("lon", "lat", "scene_month"), tr_df, use_bearing=True
                )
                held.append(pairs)
                sp["counts"]["pairs"] = noop_sink(pairs.persist())["rows"]
                ts_rows = transects.median_intersections(pairs).count()
                sp["counts"]["ts_rows"] = ts_rows
            return ts_rows
        finally:
            for df in held:
                df.unpersist()


class Dedup(Workload):
    """minhash_dedup_assign(k=64, bands=16) over (xxhash64(url), text),
    counting the non-canonical docs through a cache (see Shoreline)."""

    name = "dedup"

    def _sub(self) -> DataFrame:
        return self.docs.select(F.xxhash64("url").alias("doc_id"), F.col("text"))

    def _dups(self, out: DataFrame) -> DataFrame:
        return out.filter(F.col("canonical_id") != F.col("doc_id"))

    def run(self):
        dups = self._dups(dedup.minhash_dedup_assign(self._sub(), k=64, bands=16)).persist()
        return dups, dups.count()

    def finish(self, handle, check):
        dups, n = handle
        try:
            if check:
                rows, dg = digest(dups)
                return (n if rows == n else -1), dg
            return None
        finally:
            dups.unpersist()

    def traced(self, tr) -> int:
        with tr.span("dedup.band_keys") as sp:
            bkeys = dedup.minhash_band_keys(self._sub(), k=64, bands=16)
            sp["counts"]["rows"] = noop_sink(bkeys)["rows"]
        with tr.span("dedup.build"):
            out = dedup.minhash_dedup_assign(self._sub(), k=64, bands=16)
        with tr.span("dedup.action") as sp:
            n = self._dups(out).count()
            sp["counts"]["n_dup"] = n
        return n


class TileIngest(Workload):
    """Re-tile every other month and commit it as a copy-on-write snapshot
    of a manifest-governed table, then read the whole table back."""

    name = "tile_ingest"

    def prepare(self) -> None:
        self.cap = max(1, round(CAP_AT_180K * self.n_docs / 180_000))
        self.table = os.path.join(self.ctx["work_dir"], "tile_table")
        shutil.rmtree(self.table, ignore_errors=True)
        months = sorted(
            r[0] for r in self.docs.select("warc_month").distinct().collect()
        )
        self.months = months[::2]
        self.slice_bytes = fixture.partition_bytes(self.ctx["docs_path"], self.months)
        at = tiling.adaptive_tiles(tiling.prepare_documents(self.docs), cap=self.cap)
        at.write.partitionBy("warc_month").parquet(self.table)
        sinks.compact_partitions(self.spark, self.table, "warc_month")
        self.write_amp = float("nan")

    def _slice(self) -> DataFrame:
        return self.docs.filter(F.col("warc_month").isin(self.months))

    def _tiled(self) -> DataFrame:
        return tiling.adaptive_tiles(tiling.prepare_documents(self._slice()), cap=self.cap)

    def run(self):
        sinks.overwrite_partitions(self._tiled(), self.table, ["warc_month"])
        return sinks.read_table(self.spark, self.table).count()

    def _commit_stats(self) -> dict[str, float]:
        """Files of the live snapshot that are new (not an inode of the
        previous snapshot) versus hard-linked from it."""
        hist = sinks.table_history(self.table)
        live = next(h for h in hist if h["live"])
        prev = [h for h in hist if h["version"] < live["version"]]

        def files(data_dir):
            root = os.path.join(self.table, data_dir)
            out = []
            for d, _, fs in os.walk(root):
                out += [os.stat(os.path.join(d, f)) for f in fs if f.endswith(".parquet")]
            return out

        old = {(s.st_dev, s.st_ino) for s in files(prev[-1]["data_dir"])} if prev else set()
        new = [s for s in files(live["data_dir"]) if (s.st_dev, s.st_ino) not in old]
        written = sum(s.st_size for s in new)
        return {
            "files_written": len(new),
            "files_linked": live["n_files"] - len(new),
            "bytes_written": written,
            "versions_retained": len(hist),
            "write_amp": written / self.slice_bytes,
        }

    def finish(self, handle, check):
        if not check:
            return None
        self.write_amp = self._commit_stats()["write_amp"]
        rows, dg = digest(sinks.read_table(self.spark, self.table))
        return (handle if rows == handle == self.n_docs else -1), dg

    def traced(self, tr) -> int:
        with tr.span("tiling.prepare") as sp:
            sp["counts"]["rows"] = noop_sink(tiling.prepare_documents(self._slice()))["rows"]
        with tr.span("tiling.adaptive") as sp:
            at = self._tiled()
            sp["counts"]["rows"] = noop_sink(at.persist())["rows"]
        try:
            with tr.span("sinks.overwrite"):
                sinks.overwrite_partitions(at, self.table, ["warc_month"])
        finally:
            at.unpersist()
        with tr.span("sinks.read"):
            return sinks.read_table(self.spark, self.table).count()

    def layer_counts(self) -> dict[str, float]:
        at = self._tiled()
        return {
            "tiling.adaptive_scans": executed_scans(at),
            "tiling.atiles": at.select("atile").distinct().count(),
            **{f"sinks.{k}": v for k, v in self._commit_stats().items()},
        }


WORKLOAD_CLASSES = {w.name: w for w in (Shoreline, Dedup, TileIngest)}

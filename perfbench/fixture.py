"""Benchmark fixture: the seeded webpages input, generated without Spark.

`datagen` is the fixture, not a measured layer. The input is written by
plain Python (one child process per core running `gen_batch`, then
pyarrow) before the benchmark's Spark session exists, so generation never
warms or grows the measured JVM. The layout matches
`datagen.ensure_webpages`: hive partitions `warc_month=YYYY-MM`, one file
per month, `warc_ts` stored as a UTC-adjusted timestamp so Spark reads it
as `timestamp`.

The seed picks the row-index window `[w * docs, (w + 1) * docs)` with
`w = seed % SEED_WINDOWS`; `datagen.SEED` is untouched. Every byte is a
pure function of the row index, so one (seed, docs) pair always yields
the same table. Each pair is generated once into the data directory.

    python3 -m perfbench.fixture START STOP OUT.arrow   # one worker's rows
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

# windows stay below datagen's template index space (1 << 40) at any
# docs count used here: 1e6 * 1e5 = 1e11
SEED_WINDOWS = 1_000_000
_CHUNK = 5_000


def window_start(seed: int, docs: int) -> int:
    return (seed % SEED_WINDOWS) * docs


def docs_path(data_dir: str, seed: int, docs: int) -> str:
    return os.path.join(data_dir, f"webpages_seed{seed}_n{docs}")


def _schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("warc_month", pa.string()),
        ]
    )


def write_rows(start: int, stop: int, out: str) -> None:
    """Generate rows [start, stop) into an Arrow IPC file."""
    import numpy as np
    import pyarrow as pa

    from coastsat_spark import datagen

    schema = _schema()
    with pa.OSFile(out, "wb") as sink, pa.ipc.new_file(sink, schema) as w:
        for a in range(start, stop, _CHUNK):
            idx = np.arange(a, min(a + _CHUNK, stop), dtype=np.uint64)
            pdf = datagen.gen_batch(idx).drop(columns=["_lat", "_lon"])
            pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
            pdf["warc_month"] = pdf["warc_ts"].dt.strftime("%Y-%m")
            w.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))


def ensure_docs(data_dir: str, seed: int, docs: int, workers: int) -> str:
    """Generate the (seed, docs) input once; later calls return its path.

    The table is staged in a sibling directory and renamed into place, so
    an interrupted generation never leaves a half-written input behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = docs_path(data_dir, seed, docs)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    stage = path + ".staging"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    start = window_start(seed, docs)
    cuts = [start + docs * i // workers for i in range(workers + 1)]
    parts = [os.path.join(stage, f"rows{i}.arrow") for i in range(workers)]
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.fixture", str(a), str(b), out]
        )
        for a, b, out in zip(cuts, cuts[1:], parts)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    table = pa.concat_tables(pa.ipc.open_file(p).read_all() for p in parts)
    for p in parts:
        os.remove(p)
    pq.write_to_dataset(
        table,
        stage,
        partition_cols=["warc_month"],
        basename_template="part-{i}.parquet",
        compression="snappy",
    )
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(stage, path)
    return path


def partition_bytes(path: str, values: list[str], col: str = "warc_month") -> int:
    """Parquet bytes of the named hive partitions of a plain table."""
    total = 0
    for v in values:
        d = os.path.join(path, f"{col}={v}")
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
        )
    return total


if __name__ == "__main__":
    write_rows(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])

"""Physical-plan assertions: the optimizations the engine's scale story
depends on must be visible in `explain` output, not just claimed.

- column pruning: the flagship scan reads ONLY (warc_ts, html) of the
  webpages table;
- predicate pushdown: a warc_ts filter reaches the parquet scan as a
  PushedFilter, and a warc_month filter prunes partitions;
- broadcast: the transect theta-join plans as a broadcast join (no
  sort-merge shuffle for the dimension side);
- whole-stage codegen covers the sensor-model band math (no Python
  eval node in the JVM-parse path).
"""

import pytest
from pyspark.sql import functions as F

from coastsat_spark.datagen import ensure_webpages
from coastsat_spark.operators import raster, tiling, transects


@pytest.fixture(scope="module")
def web(spark):
    return spark.read.parquet(ensure_webpages(spark, 0.001))


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_flagship_scan_prunes_columns(spark, web):
    px = raster.aggregate_pixels(tiling.prepare_documents(web))
    plan = _plan(px)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" in read and "warc_ts" in read
    assert "text" not in read and "lang" not in read and "url" not in read


def test_predicate_pushdown_to_parquet(spark, web):
    f = web.filter(F.col("warc_ts") >= "2022-01-01").select("url")
    plan = _plan(f)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "warc_ts" in pushed and "IsNotNull" in pushed


def test_partition_pruning_on_warc_month(spark, web):
    f = web.filter(F.col("warc_month") == "2022-03")
    plan = _plan(f)
    assert "PartitionFilters" in plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "warc_month" in pf


def test_transect_join_is_broadcast(spark):
    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [0.0], "lat": [0.0], "scene_month": [pd.Timestamp("2021-01-01")]})
    )
    tr = transects.transects_df(spark, 11)
    j = transects.transect_join(pts, tr)
    plan = _plan(j)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_no_python_eval_on_jvm_parse_path(spark, web):
    prepared = tiling.prepare_documents(web)
    plan = _plan(prepared.select("tile", "green"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "[codegen id" in plan  # whole-stage codegen spans the band math


def test_sessionize_single_exchange(spark):
    """Sessionization over a user-keyed table must shuffle exactly once:
    the lag window, the running-sum window AND the (user, session)
    aggregate all reuse the hashpartitioning(user_id) distribution (a
    subset of the grouping keys satisfies ClusteredDistribution)."""
    import re

    from coastsat_spark.operators.timeseries import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(sessionize(ev))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:3000]
    assert "hashpartitioning(user_id" in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_adaptive_tiles_broadcast_only(spark, web):
    """The split chain must never sort-merge-join on the skewed tile key:
    hot-set membership is broadcast (the hot list is bounded by occupied
    tile count), and the only exchanges are for the per-level count
    aggregates."""
    from coastsat_spark.operators.tiling import adaptive_tiles, with_geo

    geo = with_geo(web).select("url", "lat", "lon")
    plan = _plan(adaptive_tiles(geo, base_res=4, cap=100, max_levels=2))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed amortizes the shuffle at write time: a self-join of
    two tables bucketed on the same key plans with zero Exchange nodes."""
    import re

    from pyspark.sql import functions as F

    from coastsat_spark.operators.sinks import write_bucketed

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try:
        write_bucketed(
            d.select("doc_id", "text"), "bkt_docs", "doc_id", 8,
            sort_col="doc_id", path=str(tmp_path / "bkt_docs"),
        )
        write_bucketed(
            d.select("doc_id", "lang"), "bkt_langs", "doc_id", 8,
            sort_col="doc_id", path=str(tmp_path / "bkt_langs"),
        )
        j = spark.table("bkt_docs").join(spark.table("bkt_langs"), "doc_id").select(
            "doc_id", F.length("text").alias("n"), "lang"
        )
        plan = _plan(j)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:3000]
        assert j.count() == d.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_langs")


def test_lsh_dedup_distinct_carries_only_ids(spark):
    """The LSH candidate dedup exchange must carry id columns only — a
    distinct over (ids, embeddings) would shuffle dim*8 bytes per
    collision. Assert no HashAggregate (the distinct) groups an
    embedding column."""
    import pandas as pd

    from coastsat_spark.operators import similarity

    rng = __import__("numpy").random.default_rng(7)
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": [rng.normal(size=16).tolist() for _ in range(40)]}
    )
    emb = spark.createDataFrame(pdf)
    out = similarity.embedding_dup_pairs_lsh(emb, threshold=0.8, dim=16)
    plan = _plan(out)
    for line in plan.splitlines():
        if "HashAggregate" in line and "Keys" in line:
            assert "e_a" not in line and "e_b" not in line and "embedding" not in line

    out2 = similarity.cosine_topk_lsh(emb.limit(5), emb, k=3, dim=16)
    plan2 = _plan(out2)
    for line in plan2.splitlines():
        if "HashAggregate" in line and "Keys" in line:
            assert "c_emb" not in line and "embedding" not in line


def test_halo_ghosts_are_jvm_single_scan(spark, web):
    """with_halo's ghost generation must stay JVM-side (no Python eval
    before the kernel) and consume the upstream exactly ONCE: ghosts are
    emitted by a Generate (explode over the literal 9-offset array), not
    by a second branch over the pixel aggregate — so callers need no
    .persist() contract to avoid a double doc-scan (round-4 VERDICT
    'what's wrong' #1)."""
    px = raster.aggregate_pixels(tiling.prepare_documents(web))
    out = raster.extract_shorelines(px)  # deliberately NOT persisted
    plan = _plan(out)
    # the contour kernel is a mapInPandas over key-sorted partitions (one
    # Arrow batch per ~10k rows, group loop inside the UDF) — not a
    # per-group FlatMapGroupsInPandas
    kernel_pos = plan.find("MapInPandas")
    assert kernel_pos != -1
    below = plan[kernel_pos:]
    assert "ArrowEvalPython" not in below and "BatchEvalPython" not in below
    # ghost emission is a JVM explode, never a join
    assert "Generate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one scan of the webpages source and one pixel aggregate
    # pair (partial + final): the halo no longer re-reads the upstream.
    # Count node-detail headers ("(1) Scan parquet") — each node also
    # appears once in the tree rendering.
    import re as _re

    scans = _re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)
    assert len(scans) == 1, scans
    aggs = _re.findall(r"^\(\d+\) HashAggregate", plan, _re.M)
    # partial + final of shuffle-1 only (no duplicated aggregate branch)
    assert len(aggs) == 2, aggs


def test_star_edges_single_bucket_exchange(spark):
    """The MinHash star-edge builder must shuffle the full bucket table
    exactly ONCE, the way minhash_dedup_assign composes it: one explicit
    repartition(bkey) whose PERSISTED output feeds both the dup-bucket
    hash aggregate and the shuffled-hash join probe with no further
    bkey exchange (the r5 entire-partition window paid ~20 us/row of
    WindowExec per-group CPU at scale; the r3 aggregate+join form
    planned a second full exchange whenever AQE declined the
    broadcast). The only other exchange is the tiny edge distinct."""
    from coastsat_spark.operators import dedup

    docs = spark.read.parquet(ensure_webpages(spark, 0.001))
    sub = docs.select(F.xxhash64("url").alias("doc_id"), F.col("text"))
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = (
        dedup.minhash_band_keys(sub, 64, 8)
        .select(F.col("doc_id"), F.explode("bkeys").alias("bkey"))
        .repartition(p, "bkey")
        .persist()
    )
    try:
        out = dedup._star_edges(raw, "doc_id")
        # the initial plan carries ENSURE_REQUIREMENTS bkey exchanges
        # that AQE elides once the cache stage reports its partitioning;
        # assert on the FINAL executed plan (what actually ran)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("+- == Initial Plan ==")[0]
        bucket_exchanges = [
            l for l in final.splitlines()
            if "Exchange hashpartitioning(bkey" in l
        ]
        assert len(bucket_exchanges) == 1, bucket_exchanges
        # the join must be the co-partitioned shuffled-hash form, not a
        # sort-merge (no per-partition sort of the bucket table)
        assert "ShuffledHashJoin" in final, final[:2000]
        # the tokenize+MinHash pass must evaluate exactly once, as ONE
        # mapInArrow transform (the r5 expression UDF was planned as two
        # ArrowEvalPython nodes by InferFiltersFromGenerate)
        assert final.count("MapInArrow") == 1, final[:2000]
        assert "ArrowEvalPython" not in final, final[:2000]
    finally:
        raw.unpersist()


@pytest.mark.parametrize("op", ["minhash_signatures", "simhash_fingerprints"])
def test_token_hash_kernels_single_mapinarrow(spark, web, op):
    """MinHash signatures and SimHash fingerprints run as ONE mapInArrow
    over the JVM token hashes: no expression UDF (ArrowEvalPython), and
    the tokenize (regexp_extract_all) evaluates exactly once — token-less
    docs are dropped inside the kernel, not by a JVM size(_th) > 0
    pre-filter that re-runs the whole tokenize."""
    from coastsat_spark.operators import dedup

    docs = web.select(F.xxhash64("url").alias("doc_id"), F.col("text"))
    out = getattr(dedup, op)(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert plan.count("regexp_extract_all") == 1, plan


def test_flagship_build_runs_no_jobs(spark, web):
    """Building the flagship plan is lazy: no Spark job starts until an
    action runs (`run_flagship` returns DataFrames only)."""
    from coastsat_spark.plans import pipeline

    sc = spark.sparkContext
    group = "test_flagship_build"
    sc.setJobGroup(group, "run_flagship build")
    try:
        res = pipeline.run_flagship(spark, web)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        res.pixels.unpersist()

"""Datagen invariants: determinism, byte-identical text extraction,
geotag round-trip, skew shape (FIXTURES.md §1)."""

import collections

import numpy as np

from coastsat_spark.datagen import SF_ROWS, gen_batch, webpages_df
from coastsat_spark.functions import cells
from coastsat_spark.functions.text import extract_text_bytes, parse_geotag_bytes


def test_generation_is_pure_function_of_index():
    a = gen_batch(np.arange(0, 3000))
    b = gen_batch(np.arange(0, 3000)[::3])
    assert (b["html"].to_numpy() == a["html"].to_numpy()[::3]).all()
    assert (b["url"].to_numpy() == a["url"].to_numpy()[::3]).all()


def test_text_extraction_byte_identical():
    pdf = gen_batch(np.arange(0, 4000))
    for h, t in zip(pdf["html"], pdf["text"]):
        assert extract_text_bytes(h) == t


def test_geotag_roundtrip_exact():
    pdf = gen_batch(np.arange(0, 2000))
    for h, la, lo in zip(pdf["html"], pdf["_lat"], pdf["_lon"]):
        glat, glon = parse_geotag_bytes(h)
        assert glat == round(la, 6) and glon == round(lo, 6)


def test_urls_unique():
    pdf = gen_batch(np.arange(0, 5000))
    assert pdf["url"].nunique() == len(pdf)


def test_zipf_skew_present():
    pdf = gen_batch(np.arange(0, 5000))
    tile, _, _ = cells.np_fine_to_tile_pixel(pdf["_lat"].to_numpy(), pdf["_lon"].to_numpy())
    counts = collections.Counter(tile)
    top = counts.most_common(1)[0][1]
    # a coastal-dense cell concentrates >5% of all docs (salting fixture)
    assert top / len(pdf) > 0.05


def test_spark_generation_matches_oracle(spark):
    sdf = webpages_df(spark, 2000, with_truth=True).orderBy("url").toPandas()
    idx = sdf["url"].str.rsplit("/", n=1).str[-1].astype(int).to_numpy()
    oracle = gen_batch(idx)
    assert (sdf["html"].map(bytes).to_numpy() == oracle["html"].to_numpy()).all()
    assert (sdf["text"].to_numpy() == oracle["text"].to_numpy()).all()
    assert SF_ROWS[0.001] == 6_000


def test_jvm_extract_text_parity(spark):
    """r6: extract_text is a JVM expression; it must match the Python
    byte extractor on the corpus AND on structural edge cases (empty
    article, multiple articles, no article -> tag-strip fallback,
    multiline bodies, null)."""
    from pyspark.sql import functions as F

    from coastsat_spark.functions.text import extract_text

    cases = [
        b"<html><article>hello world</article></html>",
        b"<html><article></article></html>",
        b"<html><article>a</article><article>b</article></html>",
        b"<html><article>multi\nline\ntext</article></html>",
        b"<html><article>unclosed",
        b"<html><body>no article <b>tags</b> here</body></html>",
        b"  <p> lead and trail ws </p>  ",
        b"</article>before<article>after</article>",
        b"<article>pre<article>inner</article>post</article>",
        b"",
        None,
    ]
    rows = [(i, c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(rows, "i int, html binary")
    got = {
        r["i"]: r["t"]
        for r in df.select("i", extract_text(F.col("html")).alias("t")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == extract_text_bytes(c), (i, c, got[i])


def test_jvm_extract_text_corpus_roundtrip(spark):
    from pyspark.sql import functions as F

    from coastsat_spark.functions.text import extract_text

    web = webpages_df(spark, 3000)
    bad = web.filter(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_with_geo_single_regex_parity(spark):
    """r6: the JVM geotag parse runs ONE regex (pair capture + split);
    it must agree with the pure-Python reference byte-for-byte, on the
    corpus and on html with no (or a malformed) geotag or no html."""
    from coastsat_spark.operators import tiling

    edge = spark.createDataFrame(
        [
            ("edge/0", b"<html><head></head><article>x</article></html>"),
            ("edge/1", b'<meta name="geo" content="12;34">'),
            ("edge/2", b'<meta name="geo" content="-1.5;2.25"><article>y</article>'),
            ("edge/3", None),
        ],
        "url string, html binary",
    )
    web = webpages_df(spark, 3000).select("url", "html").unionByName(edge)
    rows = tiling.with_geo(web).select("html", "lat", "lon").collect()
    assert len(rows) == 3004
    for r in rows:
        html = bytes(r["html"]) if r["html"] is not None else None
        assert (r["lat"], r["lon"]) == parse_geotag_bytes(html), html

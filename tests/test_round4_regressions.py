"""Round-4 regression guards for the fused wave hot path.

The round-4 rewrite moved extraction into the scan stage and built the
crawled rows with one route-conditional projection. These tests pin (a)
that projection's output for every row class, and (b) the fixture
writer's n_files layout (scan-split granularity IS extraction
parallelism — a few single-row-group files silently cap the whole crawl).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from playwrightcrawler_spark.crawl.engine import CrawlEngine
from playwrightcrawler_spark.sources import pages_gen


@pytest.fixture(scope="module")
def idle_engine(spark, pages_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("wh_r4"); return CrawlEngine(spark, pages_dir, str(wh))


def _fetched_frame(spark):
    """A post-extraction wave frame the way the fused scan pass shapes it:
    extraction columns populated for BOTH text routes (the route-aware UDF
    decodes plain_text in the same Arrow crossing as the html walk),
    empty-extraction sentinels ('', [], [], False, '') for the rest. One
    html page carries a mailto address, which becomes an email record."""
    rows = [
        # url, host, ctype, route, ext, depth, text, words, emails,
        # isopendir, odpat
        ("https://a.example/p0.html", "a.example", "text/html", "html", "html", 0,
         "hello world", ["hello", "world"], ["someone@example.org"], False, ""),
        ("https://a.example/dir/", "a.example", "text/html", "html", "", 1,
         "Index of /dir", ["index", "of", "dir"], [], True, "index of"),
        ("https://b.example/notes.txt", "b.example", "text/plain", "plain_text", "txt", 1,
         "plain body text", ["plain", "body", "text"], [], False, ""),
        ("https://b.example/logo.png", "b.example", "image/png", "image", "png", 2,
         "", [], [], False, ""),
    ]
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("file_extension", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("text_extracted", T.StringType()),
        T.StructField("words", T.ArrayType(T.StringType())),
        T.StructField("emails", T.ArrayType(T.StringType())),
        T.StructField("isopendir", T.BooleanType()),
        T.StructField("opendir_pattern", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def test_build_crawled_rows_per_route_class(idle_engine, spark):
    """The one route-conditional projection, row class by row class: html
    rows keep their extraction, plain_text its decoded text, binaries and
    dead links (wave rows missing from the fetch) get no text, and each
    mailto address on an html page becomes an email record."""
    fetched = _fetched_frame(spark)
    wave_df = fetched.select("url", "host", "depth").unionByName(
        spark.createDataFrame(
            [("https://c.example/gone.html", "c.example", 3)],
            "url string, host string, depth int",
        )
    )
    crawled = idle_engine._build_crawled(fetched, wave_df, wave=7)
    cols = ["route", "depth", "text", "words", "source", "isopendir",
            "opendir_pattern", "emails", "parent_host", "ext_consistent"]
    got = {r["url"]: tuple(r[c] for c in cols)
           for r in crawled.select("url", *cols).collect()}
    assert got == {
        "https://a.example/p0.html": (
            "html", 0, "hello world", ["hello", "world"], "content_type_download",
            False, "", None, None, True),
        "https://a.example/dir/": (
            "html", 1, "Index of /dir", ["index", "of", "dir"], "content_type_download",
            True, "index of", None, None, True),
        "https://b.example/notes.txt": (
            "plain_text", 1, "plain body text", ["plain", "body", "text"],
            "content_type_plain_text", False, "", None, None, True),
        "https://b.example/logo.png": (
            "image", 2, None, None, "content_type_images_no_download",
            False, "", None, None, True),
        "https://c.example/gone.html": (
            "missing", 3, None, None, "fetch_miss", False, "", None, None, None),
        "https://a.example/p0.html|someone@example.org": (
            "email", None, None, None, "email_url", False, "",
            ["someone@example.org"], "a.example", True),
    }
    assert crawled.filter(~F.col("visited")).count() == 0
    assert {r["wave"] for r in crawled.select("wave").collect()} == {7}


def test_pages_gen_n_files_layout(spark, tmp_path):
    """n_files range-partitions the corpus into that many parquet files —
    the scan-split granularity the fused extraction stage depends on."""
    out = str(tmp_path / "pages_files.parquet")
    n = pages_gen.write_pages_scaled(
        spark, out, n_hosts=20, pages_per_host=3, paragraphs=2,
        include_assets=False, n_files=8)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 8
    assert spark.read.parquet(out).count() == n == 60

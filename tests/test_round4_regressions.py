"""Round-4 regression guards for the fused wave hot path.

The round-4 rewrite moved extraction into the scan stage and replaced
_build_crawled's two cache scans with one route-conditional projection
(fused=True). These tests pin (a) fused == union semantics row-for-row,
(b) the fixture writer's n_files layout (scan-split granularity IS
extraction parallelism — a few single-row-group files silently cap the
whole crawl), and (c) the engine's no-shuffle default.
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
    empty-extraction sentinels ('', [], [], False, '') for the rest. The
    html bytes column survives here only because the NON-fused comparison
    branch recomputes the plain-text decode from it. One html page carries
    a mailto address, which becomes an email record."""
    rows = [
        # url, host, ctype, route, ext, depth, html(plain-text only), text,
        # words, emails, isopendir, odpat
        ("https://a.example/p0.html", "a.example", "text/html", "html", "html", 0,
         None, "hello world", ["hello", "world"], ["someone@example.org"], False, ""),
        ("https://a.example/dir/", "a.example", "text/html", "html", "", 1,
         None, "Index of /dir", ["index", "of", "dir"], [], True, "index of"),
        ("https://b.example/notes.txt", "b.example", "text/plain", "plain_text", "txt", 1,
         bytearray(b"plain body text"), "plain body text",
         ["plain", "body", "text"], [], False, ""),
        ("https://b.example/logo.png", "b.example", "image/png", "image", "png", 2,
         None, "", [], [], False, ""),
    ]
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("file_extension", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text_extracted", T.StringType()),
        T.StructField("words", T.ArrayType(T.StringType())),
        T.StructField("emails", T.ArrayType(T.StringType())),
        T.StructField("isopendir", T.BooleanType()),
        T.StructField("opendir_pattern", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def _missing_frame(spark):
    return (
        spark.createDataFrame(
            [("https://c.example/gone.html", 3)], "url string, depth int")
        .withColumn("html", F.lit(None).cast("binary"))
        .withColumn("file_extension", F.lit("html"))
        .withColumn("content_type", F.lit(""))
        .withColumn("route", F.lit("missing"))
    )


def test_fused_build_crawled_matches_union_shape(idle_engine, spark):
    """fused=True (one conditional projection) must emit exactly the rows
    the original two-branch union emitted, for every route class at once:
    html, plain_text, binary, fetch-miss and email."""
    fetched = _fetched_frame(spark)
    missing = _missing_frame(spark)
    html_pages = fetched.filter(F.col("route") == "html")

    fused = idle_engine._build_crawled(fetched, html_pages, missing, wave=7, fused=True)
    union = idle_engine._build_crawled(fetched, html_pages, missing, wave=7, fused=False)

    assert fused.columns == union.columns
    cols = sorted(fused.columns)
    a = sorted(map(repr, fused.select(*cols).collect()))
    b = sorted(map(repr, union.select(*cols).collect()))
    assert a == b
    # all five row classes actually present (guards a vacuous pass)
    routes = {r["route"] for r in fused.select("route").collect()}
    assert routes == {"html", "plain_text", "image", "missing", "email"}


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


def test_engine_defaults_no_fetch_shuffle(idle_engine):
    """rebalance_fetch defaults OFF: extraction parallelism comes from
    scan splits, not a wave-bytes shuffle."""
    assert idle_engine.rebalance_fetch is False

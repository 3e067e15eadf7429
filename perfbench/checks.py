"""Output checks after the timed window. Each one counts as an operation
toward ``ops_ok_frac``; none of them is timed."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

WORDS_CHECKED = 12  # crawled rows re-extracted outside Spark


def crawl_checks(run, waves: list[dict]) -> dict:
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.functions import udfs

    spark, lake = run.spark, run.eng.lake
    crawled = lake.crawled.read(spark)
    pages = spark.read.parquet(run.inputs.pages)
    ok = {}

    # one row per (url, wave)
    ok["crawled_url_wave_unique"] = (
        crawled.groupBy("url", "wave").count().filter(F.col("count") > 1).limit(1).count() == 0
    )

    # every selected url (a visited-flip in some frontier delta) appears
    # exactly once in crawled, in the wave that selected it, and nothing
    # else does
    flip_dirs = [
        d for e in lake.frontier.versions()
        for d in glob.glob(os.path.join(lake.frontier._snap_dir(e["version"]), "flips"))
    ]
    flips = spark.read.parquet(*flip_dirs).groupBy("url_hash").agg(
        F.count(F.lit(1)).alias("nf"), F.max("wave").alias("fw"))
    got = crawled.filter(F.col("route") != "email").groupBy("url_hash").agg(
        F.count(F.lit(1)).alias("nc"), F.max("wave").alias("cw"))
    bad = flips.join(got, "url_hash", "full_outer").filter(
        F.col("nf").isNull() | F.col("nc").isNull() | (F.col("nf") != 1)
        | (F.col("nc") != 1) | (F.col("fw") != F.col("cw"))
    )
    ok["selected_crawled_once"] = bad.limit(1).count() == 0

    # the frontier keeps one row per url_hash
    ok["frontier_hash_unique"] = (
        lake.frontier.read(spark).groupBy("url_hash").count()
        .filter(F.col("count") > 1).limit(1).count() == 0
    )

    # sampled crawled text/words equal the kernel run outside Spark on
    # the html the generator wrote
    sample = (
        crawled.filter(F.col("route") == "html")
        .orderBy(F.xxhash64("url", F.lit(run.seed)))
        .limit(WORDS_CHECKED)
        .select("url", "text", "words")
        .collect()
    )
    html = pq.read_table(
        run.inputs.pages, columns=["url", "html"],
        filters=[("url", "in", [r["url"] for r in sample])],
    ).to_pydict()
    html = dict(zip(html["url"], html["html"]))
    same = [
        (r["text"], list(r["words"] or []))
        == (lambda o: (o[0], list(o[1])))(udfs._extract_page_row(html[r["url"]], r["url"]))
        for r in sample
    ]
    ok["extraction_matches_kernel"] = bool(same) and all(same)

    # the benchmark's own count of links seen per wave: non-mailto hrefs
    # the generator wrote into each html page the wave fetched
    timed = {w["wave"] for w in waves}
    per_wave = {
        r["wave"]: int(r["n"])
        for r in crawled.filter(F.col("route") == "html")
        .join(pages.select("url", "bench_links"), "url")
        .groupBy("wave").agg(F.sum("bench_links").alias("n")).collect()
    }
    return {
        "ok": ok,
        "links_bench": sum(per_wave.get(w, 0) for w in timed),
        "links_engine": sum(w["links_seen"] for w in waves),
    }

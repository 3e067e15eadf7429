"""Downloader pipeline (S7/X9/X10/P19) and fast-extension pass (X7/X8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from playwrightcrawler_spark.operators import downloader


@pytest.mark.parametrize(
    "url",
    [
        "https://h.example/a/b/file.bin",
        "https://h.example/dir/",
        "https://h.example/",
        "https://h.example/q?x=1&y=2",
        "https://h.example/q.html?x=%2F..%2F",
        "https://h.example/../../etc/passwd",
        "https://h.example/we<ird>:na|me?.bin",
        "http://user:pw@h.example:8080/p/f.txt",
        "https://h.example/%2e%2e/up.txt",
    ],
)
def test_safe_filepath_parity(ref, url):
    """P19: byte-identical mirror paths vs the reference downloader's
    safe_filepath_from_url (AST-extracted; OUTPUT_DIR pinned equal)."""
    if "safe_filepath_from_url" not in ref:
        pytest.skip("reference downloader not available")
    theirs = ref["safe_filepath_from_url"](url)
    mine = downloader.safe_filepath_from_url(url, output_dir="/tmp/pwc_ref_downloads")
    assert mine == theirs


def test_regexes_join_semantics(ref):
    """P20 analogue: the reference strips ^$ anchors for ES; we keep them
    (Spark rlike has no cap) — assert our join covers the same terms."""
    if "regexes_to_es_regexp" not in ref:
        pytest.skip("reference downloader not available")
    terms = ["^png$", "jpe?g", "", None, "gif$"]
    theirs = ref["regexes_to_es_regexp"](terms)
    assert set(theirs.split("|")) == {"png", "jpe?g", "gif"}
    ours = downloader._joined(terms)
    assert ours == "(?:^png$|jpe?g|gif$)"


def test_filtered_scan_include_exclude(spark, pages_dir):
    from playwrightcrawler_spark.functions import sqlfns

    pages = spark.read.parquet(pages_dir).select(
        "url",
        sqlfns.host_of(F.col("url")).alias("host"),
        sqlfns.file_extension(sqlfns.path_of(F.col("url"))).alias("file_extension"),
        F.lit("application/octet-stream").alias("content_type"),
    )
    out = downloader.filtered_scan(
        pages,
        include_ext=[r"^png$", r"^pdf$"],
        include_ctype=[r"octet"],
        exclude_host=[r"^docs\."],
    )
    urls = {r.url for r in out.select("url").collect()}
    assert "https://cdn.example.com/assets/logo.png" in urls
    assert "https://docs.example.com/manual.pdf" not in urls     # host excluded
    assert "https://dl.example.com/bundle.zip" not in urls       # ext not included


def test_host_budgeted_fetch_politeness(spark, pages_dir):
    """X9/X10: per-host budget respected, over-budget rows tagged (never
    silently dropped), dead URLs tagged missing, P19 path attached. A fetch
    attempt consumes a budget slot whether or not the URL resolves."""
    pages = spark.read.parquet(pages_dir)
    urls = (
        pages.filter(F.col("url").rlike(r"^https://mega\.example\.com/"))
        .select("url", F.lit("mega.example.com").alias("host"))
        .unionByName(
            spark.createDataFrame(
                # "a_missing" sorts first on mega → lands inside the budget
                [("https://mega.example.com/a_missing.html", "mega.example.com"),
                 ("https://cdn.example.com/assets/logo.png", "cdn.example.com")],
                "url string, host string",
            )
        )
    )
    n_urls = urls.count()
    out = downloader.host_budgeted_fetch(urls, pages, budget_per_host=5).cache()
    assert out.count() == n_urls                      # one row per input url
    by_status = {r["status"]: r["n"] for r in out.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by_status.get("missing") == 1
    per_host_dl = (
        out.filter(F.col("status") == "downloaded").groupBy("host").count()
    )
    assert per_host_dl.filter(F.col("count") > 5).count() == 0
    assert by_status.get("skipped_budget", 0) > 0     # mega-host over budget
    # the missing attempt consumed a slot: mega downloads = budget - 1
    mega_dl = out.filter((F.col("host") == "mega.example.com")
                         & (F.col("status") == "downloaded")).count()
    assert mega_dl == 4
    row = out.filter(F.col("url") == "https://cdn.example.com/assets/logo.png").first()
    assert row.status == "downloaded" and row.bytes_len > 0
    assert row.filepath == "downloads/cdn.example.com/assets/logo.png"
    out.unpersist()


def test_host_budgeted_fetch_group_bounded_at_scale(spark, pages_dir):
    """Round-2 verdict fix: a host at 50x the budget must land at most
    `budget` rows in the pandas fetch group — the budget is a window
    pre-limit BEFORE the bytes join, not an in-kernel tag — and the plan
    ranks before joining (no payloads for skipped rows)."""
    budget = 3
    n = budget * 50
    pages = spark.read.parquet(pages_dir)
    urls = spark.createDataFrame(
        [(f"https://mega.example.com/sec{s}/item{j}.html", "mega.example.com")
         for s in range(6) for j in range(12)]
        + [(f"https://mega.example.com/bulk/{i:04d}.bin", "mega.example.com")
           for i in range(n - 72)],
        "url string, host string",
    )
    out = downloader.host_budgeted_fetch(urls, pages, budget_per_host=budget).cache()
    assert out.count() == n
    # exactly `budget` rows ever reached the fetch side (downloaded|missing);
    # everything else was emitted from the cheap side with no payload
    attempted = out.filter(F.col("status") != "skipped_budget")
    assert attempted.count() == budget
    skipped = out.filter(F.col("status") == "skipped_budget")
    assert skipped.count() == n - budget
    assert skipped.filter(F.col("bytes_len").isNotNull()).count() == 0
    # plan audit: the row_number window feeds the join input
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan.lower(), plan[:2000]
    out.unpersist()


def test_fast_extension_pass_engine(spark, pages_dir, tmp_path_factory):
    """X7/X8 end-to-end: extension-bearing candidates fetched + routed with
    a consistency verdict, consumed via flips, no HTML extraction — except
    html-sniffed mismatches, which take the reference's full-crawler
    fallback (extraction + link discovery) inside the pass."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine

    wh = tmp_path_factory.mktemp("wh_fast")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=100,
                      per_host_quota=5, method_weights={"oldest": 1})
    seeds = [
        "https://cdn.example.com/assets/logo.png",
        "https://cdn.example.com/assets/fake.png",      # lying ext: pdf bytes
        "https://cdn.example.com/assets/page.png",      # lying ext: HTML bytes
        "https://docs.example.com/manual.pdf",
        "https://media.example.com/clip.mp4",
        "https://dead.example.net/gone.pdf",            # not in pages
        "https://seed0.example.org/",                   # html: NOT ext-routed
    ]
    eng.bootstrap(seeds)
    m = eng.run_fast_extension_pass(wave=1)
    assert m["urls_selected"] == 6                      # everything but the html seed
    crawled = {r.url: r for r in eng.lake.crawled.read(spark).collect()}
    assert crawled["https://cdn.example.com/assets/logo.png"].ext_consistent is True
    assert crawled["https://cdn.example.com/assets/fake.png"].ext_consistent is False
    assert crawled["https://cdn.example.com/assets/fake.png"].route == "pdf"
    assert crawled["https://dead.example.net/gone.pdf"].route == "missing"
    assert "https://seed0.example.org/" not in crawled  # never fast-routed
    # the html-sniffed mismatch got REAL extraction + link discovery
    page = crawled["https://cdn.example.com/assets/page.png"]
    assert page.route == "html" and page.ext_consistent is False
    assert "disguised page words here" in page.text
    assert m["links_new"] >= 1
    fr = {r.url: r for r in eng.lake.frontier.read(spark).collect()}
    assert fr["https://cdn.example.com/assets/logo.png"].visited
    assert fr["https://cdn.example.com/assets/page.png"].visited
    assert not fr["https://seed0.example.org/"].visited
    # the discovered link entered the frontier unvisited
    assert not fr["https://hidden.example.org/found.html"].visited
    # everything (incl. the dead URL) was consumed: second pass is empty
    # (.html is unmapped in EXTENSION_ROUTE, so found.html is never a
    # fast-pass candidate)
    m2 = eng.run_fast_extension_pass(wave=2)
    assert m2["urls_selected"] == 0 and m2["done"]


def test_fast_extension_pass_honours_robots(spark, pages_dir, tmp_path_factory):
    """The fast pass runs the wave's robots step: a disallowed URL is
    consumed (visited) but never fetched into crawled, and a crawl-delay
    host gets one URL per pass while the rest stay unvisited for later."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine

    robots = spark.createDataFrame(
        [("cdn.example.com", ["/assets/"], None),
         ("media.example.com", [], 1000)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    wh = tmp_path_factory.mktemp("wh_fast_robots")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=100,
                      per_host_quota=5, method_weights={"oldest": 1},
                      robots_rules=robots)
    eng.bootstrap([
        "https://cdn.example.com/assets/logo.png",
        "https://cdn.example.com/assets/fake.png",
        "https://cdn.example.com/assets/page.png",
        "https://docs.example.com/manual.pdf",
        "https://media.example.com/clip.mp4",
        "https://media.example.com/song.mp3",           # crawl-delay overflow
        "https://dead.example.net/gone.pdf",
        "https://seed0.example.org/",
    ])
    m = eng.run_fast_extension_pass(wave=1)
    assert m["urls_selected"] == 3                      # pdf, mp4, dead pdf
    crawled = {r.url for r in eng.lake.crawled.read(spark).select("url").collect()}
    assert crawled == {
        "https://docs.example.com/manual.pdf",
        "https://media.example.com/clip.mp4",
        "https://dead.example.net/gone.pdf",
    }
    fr = {r.url: r.visited for r in eng.lake.frontier.read(spark).collect()}
    assert fr["https://cdn.example.com/assets/logo.png"]
    assert fr["https://cdn.example.com/assets/page.png"]
    assert not fr["https://media.example.com/song.mp3"]
    # the disallowed html page was never extracted: no link discovered
    assert m["links_new"] == 0
    assert "https://hidden.example.org/found.html" not in fr


def test_mirror_sink_writes_contained_tree(spark, tmp_path):
    """S6 byte sink: bytes land at the P19 mirror path under the root,
    hostile URLs (traversal, encoded traversal, unsafe chars, queries,
    directories) stay CONTAINED (reference downloader.py:168-209 cases),
    and every input row comes back with a status."""
    payload = {
        "https://h.example.com/a/logo.png": b"\x89PNGdata",
        "https://h.example.com/dir/": b"<html>index</html>",
        "https://h.example.com/q.png?v=1&x=../..": b"querybytes",
        "https://evil.example.com/../../../../etc/passwd": b"traversal",
        "https://evil.example.com/..%2f..%2fwin.ini": b"enc-traversal",
        'https://evil.example.com/con<>:"|?*.txt': b"unsafe-chars",
    }
    pages = spark.createDataFrame(
        [(u, b) for u, b in payload.items()], "url string, html binary"
    )
    urls = pages.select(
        "url",
        F.lower(F.regexp_extract("url", r"://([^/?#]+)", 1)).alias("host"),
    )
    root = str(tmp_path / "mirror")
    out = downloader.host_budgeted_fetch(urls, pages, write_root=root)
    rows = {r.url: r for r in out.collect()}
    assert len(rows) == len(payload)
    assert all(r.status == "written" for r in rows.values())

    import os

    written = []
    for base, _, files in os.walk(root):
        for f in files:
            written.append(os.path.join(base, f))
    assert len(written) == len(payload)
    real_root = os.path.realpath(root)
    for p in written:
        rp = os.path.realpath(p)
        assert rp.startswith(real_root + os.sep), p
    # byte fidelity + the P19 shapes: directory -> index.html, query ->
    # encoded into the name, traversal -> unsafe/
    def read(rel):
        with open(os.path.join(root, rel), "rb") as fh:
            return fh.read()

    assert read(rows["https://h.example.com/a/logo.png"].filepath) == b"\x89PNGdata"
    assert rows["https://h.example.com/dir/"].filepath.endswith("index.html")
    assert read(rows["https://h.example.com/dir/"].filepath) == b"<html>index</html>"
    trav = rows["https://evil.example.com/../../../../etc/passwd"].filepath
    assert "/unsafe/" in trav
    assert read(trav) == b"traversal"


def test_mirror_assets_end_to_end(spark, pages_dir, tmp_path):
    """mirror_assets = filtered scan -> budgeted fetch -> byte sink."""
    from playwrightcrawler_spark.functions import sqlfns

    pages = spark.read.parquet(pages_dir)
    crawled = pages.select(
        "url",
        sqlfns.host_of(F.col("url")).alias("host"),
        sqlfns.file_extension(sqlfns.path_of(F.col("url"))).alias("file_extension"),
        F.lit("application/octet-stream").alias("content_type"),
    )
    root = str(tmp_path / "assets")
    out = downloader.mirror_assets(
        crawled, pages, root, include_ext=[r"^png$"],
    ).collect()
    assert out and all(r.status == "written" for r in out)

    import os

    for r in out:
        dest = os.path.join(root, r.filepath)
        assert os.path.isfile(dest)
        assert os.path.getsize(dest) == r.bytes_len

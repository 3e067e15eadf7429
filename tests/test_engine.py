"""End-to-end crawl-engine tests (SURVEY.md §5.2, §5.4): per-url text
invariant, frontier invariants, politeness, determinism and resume."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from playwrightcrawler_spark.crawl.engine import CrawlEngine
from playwrightcrawler_spark.sources import pages_gen


@pytest.fixture(scope="module")
def crawl_result(spark, pages_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=300, per_host_quota=2)
    metrics = eng.run(4, seed_urls=pages_gen.seed_urls())
    return eng, metrics


def test_waves_progress(crawl_result):
    eng, metrics = crawl_result
    assert metrics[0]["urls_selected"] > 0
    assert metrics[0]["links_new"] > 0
    assert eng.lake.crawled.exists() and eng.lake.wave_metrics.exists()


def test_text_invariant_byte_identical(crawl_result, spark, pages_dir):
    """THE correctness gate: extracted text == pages.text per url."""
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark).filter(F.col("route") == "html")
    pages = spark.read.parquet(pages_dir).select("url", F.col("text").alias("expected"))
    joined = crawled.join(pages, "url", "inner").select("url", "text", "expected")
    assert joined.count() > 10
    mismatch = joined.filter(
        (F.col("text") != F.col("expected")) | F.col("text").isNull()
    )
    assert mismatch.count() == 0, mismatch.limit(5).collect()


def test_frontier_invariants(crawl_result, spark):
    eng, _ = crawl_result
    fr = eng.lake.frontier.read(spark)
    n = fr.count()
    assert fr.select("url_hash").distinct().count() == n      # _id-keyed
    assert fr.select("url").distinct().count() == n
    # hygiene: no blocked/embedded/trap URLs ever entered the frontier
    assert fr.filter(F.col("host").rlike(r"(^|\.)gstatic\.com$")).count() == 0
    assert fr.filter(F.col("url").rlike("^(data|blob|about|javascript):")).count() == 0
    assert fr.filter(F.col("url").contains("/fonts/fonts/fonts/")).count() == 0
    assert fr.filter(F.length("url") > 4096).count() == 0
    # fragments are stripped during canonicalization
    assert fr.filter(F.col("url").contains("#")).count() == 0
    # seeds visited
    seeds_visited = fr.filter(F.col("url") == "https://seed0.example.org/").first()
    assert seeds_visited is not None and seeds_visited.visited


def test_dead_links_marked_missing(crawl_result, spark):
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark)
    dead = crawled.filter(F.col("url").contains("dead-seed.example.net"))
    if dead.count():
        row = dead.first()
        assert row.route == "missing" and row.content_type == "" and row.source == "fetch_miss"


def test_routing_on_binaries(crawl_result, spark):
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark)
    got = {
        r.url: r.route
        for r in crawled.select("url", "route").collect()
    }
    expect = {
        "https://cdn.example.com/assets/logo.png": "image",
        "https://docs.example.com/manual.pdf": "pdf",
        "https://api.example.com/data.json": "plain_text",
    }
    for u, route in expect.items():
        if u in got:
            assert got[u] == route, (u, got[u])


def test_opendir_detected(crawl_result, spark):
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark)
    od = crawled.filter(F.col("isopendir"))
    urls = {r.url for r in od.select("url").collect()}
    if "https://files.example.net/pub/" in {r.url for r in crawled.select("url").collect()}:
        assert "https://files.example.net/pub/" in urls
    # the lookalike negative must never be flagged
    assert "https://notdir.example.net/article" not in urls


def test_politeness_quota(crawl_result, spark):
    """<= quota URLs fetched per host per wave (generalized J3)."""
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark).filter(F.col("route") != "email")
    per = crawled.groupBy("wave", "host").count()
    over = per.filter(F.col("count") > 2)
    assert over.count() == 0, over.collect()


def test_enrichment_columns(crawl_result, spark):
    eng, _ = crawl_result
    crawled = eng.lake.crawled.read(spark)
    row = crawled.filter(F.col("url").contains("hop2/leaf0")).first()
    if row:
        assert row.has_query is True
        assert row.query_variables == ["q"]          # 'empty=' dropped
        assert row.query_values == ["v0", "w0"]
        assert row.host_level_1 == "org"
        assert row.file_extension == "html"
        assert len(row.host_levels) == 7
        assert len(row.directory_levels) == 7


def test_wave_metrics_lineage(crawl_result, spark):
    eng, _ = crawl_result
    m = eng.lake.wave_metrics.read(spark)
    assert m.filter(F.col("scope").startswith("bucket:")).count() > 0
    assert m.filter(F.col("scope") == "wave").count() >= 4
    assert m.filter(F.col("scope").startswith("drop:")).count() > 0


def test_resume_identical(spark, pages_dir, tmp_path_factory):
    """Kill-between-waves semantics: 1+2 waves across two engine instances
    == 3 waves in one (north_rule resumability)."""
    wh_a = tmp_path_factory.mktemp("wh_a")
    wh_b = tmp_path_factory.mktemp("wh_b")
    seeds = pages_gen.seed_urls()

    eng_a = CrawlEngine(spark, pages_dir, str(wh_a), wave_size=100)
    eng_a.run(3, seed_urls=seeds)

    eng_b1 = CrawlEngine(spark, pages_dir, str(wh_b), wave_size=100)
    eng_b1.run(1, seed_urls=seeds)
    eng_b2 = CrawlEngine(spark, pages_dir, str(wh_b), wave_size=100)  # "relaunch"
    assert eng_b2.last_committed_wave() == 1
    eng_b2.run(2)

    fa = eng_a.lake.frontier.read(spark)
    fb = eng_b2.lake.frontier.read(spark)
    cols = ["url", "url_hash", "host", "depth", "visited", "wave"]
    assert fa.count() == fb.count()
    assert fa.select(cols).exceptAll(fb.select(cols)).count() == 0
    assert fb.select(cols).exceptAll(fa.select(cols)).count() == 0

    ca = eng_a.lake.crawled.read(spark).select("url", "route", "wave", "text")
    cb = eng_b2.lake.crawled.read(spark).select("url", "route", "wave", "text")
    assert ca.exceptAll(cb).count() == 0 and cb.exceptAll(ca).count() == 0


def test_invalid_utf8_and_noext_pages_survive_decode(spark, pages_dir, tmp_path_factory):
    """X5 decode parity: non-UTF-8 text bodies take the reference's
    chardet-style charset ladder (BOM → meta charset → detector), so a
    Latin-1 or Shift-JIS page yields its decoded text instead of U+FFFD
    runs; the extensionless page whose 256-byte sniff prefix splits a
    multibyte char must still be crawled (never abort under ANSI)."""
    wh = tmp_path_factory.mktemp("wh_decode")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=500, per_host_quota=50,
                      method_weights={"oldest": 1})
    eng.run(2, seed_urls=pages_gen.seed_urls() + [
        "https://intl.example.com/latin1.html",
        "https://intl.example.com/sjis.txt",
    ])
    rows = {
        r.url: r
        for r in eng.lake.crawled.read(spark)
        .filter(F.col("url").isin(
            "https://broken.example.com/latin.txt",
            "https://text.example.com/noext",
            "https://intl.example.com/latin1.html",
            "https://intl.example.com/sjis.txt",
        ))
        .collect()
    }
    broken = rows["https://broken.example.com/latin.txt"]
    assert broken.route == "plain_text"
    assert broken.text == "café broken bytes"        # detector rung (chardet parity)
    noext = rows["https://text.example.com/noext"]
    assert noext.route == "plain_text"               # sniff survived the split char
    assert "français" in noext.text and "�" not in noext.text
    latin1 = rows["https://intl.example.com/latin1.html"]
    assert latin1.route == "html"
    assert latin1.text == "déjà vu français à côté"  # declared-charset rung
    sjis = rows["https://intl.example.com/sjis.txt"]
    assert sjis.route == "plain_text"
    assert sjis.text == "こんにちは世界、テスト"      # detector rung


def test_robots_denied_marked_visited_not_reselected(spark, pages_dir, tmp_path_factory):
    """Robots-disallowed rows are consumed (visited) instead of winning the
    selection forever, and never produce crawled rows; a crawl-delay host is
    capped at one URL per wave."""
    robots = spark.createDataFrame(
        [
            ("seed0.example.org", ["/"], None),          # fully disallowed
            ("mega.example.com", [], 1000),              # crawl-delay host
        ],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    wh = tmp_path_factory.mktemp("wh_robots")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=300, per_host_quota=5,
                      method_weights={"oldest": 1}, robots_rules=robots)
    metrics = eng.run(3, seed_urls=pages_gen.seed_urls())
    assert any(m.get("robots_denied", 0) > 0 for m in metrics)
    crawled = eng.lake.crawled.read(spark)
    assert crawled.filter(F.col("url") == "https://seed0.example.org/").count() == 0
    fr = eng.lake.frontier.read(spark)
    seed0 = fr.filter(F.col("url") == "https://seed0.example.org/").first()
    assert seed0 is not None and seed0.visited          # consumed, not stuck
    # crawl-delay politeness: at most 1 mega.example.com URL per wave
    per_wave = (
        crawled.filter((F.col("host") == "mega.example.com") & (F.col("route") != "email"))
        .groupBy("wave").count()
    )
    assert per_wave.filter(F.col("count") > 1).count() == 0


def test_crawl_delay_slot_ignores_denied_rows(spark, pages_dir, tmp_path_factory):
    """A robots-denied row must not occupy a crawl-delay host's single
    politeness slot: when the denied row sorts first, the allowed URL is
    still crawled that wave instead of being deferred while the denied row
    is consumed (round-2 advice)."""
    robots = spark.createDataFrame(
        [("mega.example.com", ["/sec0/"], 1000)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    wh = tmp_path_factory.mktemp("wh_delay_denied")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=10, per_host_quota=5,
                      method_weights={"oldest": 1}, robots_rules=robots)
    eng.run(1, seed_urls=[
        "https://mega.example.com/sec0/item0.html",   # denied; sorts first
        "https://mega.example.com/sec1/item0.html",   # allowed
    ])
    crawled = eng.lake.crawled.read(spark)
    got = {r.url for r in crawled.select("url").collect()}
    assert "https://mega.example.com/sec1/item0.html" in got, got
    assert "https://mega.example.com/sec0/item0.html" not in got


def test_robots_served_twice_keeps_crawled_unique(spark, pages_dir, tmp_path):
    """A host serving robots.txt over both http and https has one rules
    row, so the wave's join with the rules cannot duplicate its selected
    rows: (url, wave) stays unique in crawled. With a rules row per
    robots.txt, seed1.example.org's rows were crawled twice per wave."""
    pages = spark.read.parquet(pages_dir).select("url", "html")
    robots = pages.filter(F.col("url").endswith("/robots.txt"))
    pages.unionByName(
        robots.withColumn("url", F.regexp_replace("url", "^https://", "http://"))
    ).write.parquet(str(tmp_path / "pages"))
    eng = CrawlEngine(spark, str(tmp_path / "pages"), str(tmp_path / "wh"), wave_size=300,
                      per_host_quota=5, method_weights={"oldest": 1}, robots_rules="pages")
    eng.run(2, seed_urls=pages_gen.seed_urls())
    crawled = eng.lake.crawled.read(spark)
    assert crawled.filter(F.col("host") == "seed1.example.org").count() > 0
    dup = crawled.groupBy("url", "wave").count().filter(F.col("count") > 1)
    assert dup.count() == 0, dup.collect()
    assert eng.robots.count() == eng.robots.select("host").distinct().count() == 2


def test_seed_ingest_merges_into_live_frontier(spark, pages_dir, tmp_path_factory):
    """S5 during a crawl: ingest must anti-join + append, never clobber the
    frontier snapshot with only the new seed rows."""
    wh = tmp_path_factory.mktemp("wh_ingest")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=50,
                      method_weights={"oldest": 1})
    eng.run(1, seed_urls=pages_gen.seed_urls())
    before = eng.lake.frontier.read(spark).count()
    added = eng.ingest([
        "https://tail005.example.io/p1.html",       # genuinely new
        "https://seed0.example.org/",               # already in frontier
        "https://www.gstatic.com/blocked.js",       # hygiene-dropped
    ])
    fr = eng.lake.frontier.read(spark)
    assert added == 1
    assert fr.count() == before + 1                  # old rows all survive
    assert fr.filter(F.col("url") == "https://seed0.example.org/").count() == 1
    # crawl continues cleanly after the merge
    m = eng.run_wave(eng.last_committed_wave() + 1)
    assert m["urls_selected"] > 0


def test_ingest_of_known_seeds_publishes_nothing(spark, pages_dir, tmp_path_factory):
    """An ingest that finds no new URL must publish no frontier version
    and write no Bloom sidecar, or every such ingest would add an empty
    delta and shorten the compaction interval."""
    wh = tmp_path_factory.mktemp("wh_ingest_known")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=50,
                      method_weights={"oldest": 1}, use_bloom=True,
                      bloom_items_per_bucket=1000)
    eng.run(1, seed_urls=pages_gen.seed_urls())
    fr, side = eng.lake.frontier, eng.lake.seen_bloom
    before = (fr.latest_version, side.latest_version)
    assert eng.ingest(pages_gen.seed_urls()) == 0
    assert (fr.latest_version, side.latest_version) == before
    # the unpublished increment leaves no directory behind
    assert not Path(fr._snap_dir(before[0] + 1)).exists()


def test_bloom_crawl_identical_to_exact(spark, pages_dir, tmp_path_factory):
    """use_bloom=True (pre-filter + broadcast confirm) must yield tables
    identical to the exact anti-join path — the Bloom is a pre-filter only,
    false positives never drop URLs (north_rule exactness contract)."""
    results = {}
    for label, flag in (("exact", False), ("bloom", True)):
        wh = tmp_path_factory.mktemp(f"wh_{label}")
        eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=100,
                          per_host_quota=2, method_weights={"oldest": 1},
                          use_bloom=flag, bloom_items_per_bucket=1000)
        eng.run(3, seed_urls=pages_gen.seed_urls())
        results[label] = eng
    cols = ["url", "url_hash", "host", "depth", "visited", "wave"]
    fa = results["exact"].lake.frontier.read(spark).select(cols)
    fb = results["bloom"].lake.frontier.read(spark).select(cols)
    assert fa.exceptAll(fb).count() == 0 and fb.exceptAll(fa).count() == 0
    assert results["bloom"].lake.seen_bloom.exists()  # sidecar checkpointed
    # resume reloads the sidecar instead of rebuilding
    eng2 = CrawlEngine(spark, pages_dir,
                       results["bloom"].lake.root, wave_size=100,
                       per_host_quota=2, method_weights={"oldest": 1},
                       use_bloom=True, bloom_items_per_bucket=1000)
    assert eng2.bloom.rows(spark), "sidecar not reloaded on resume"


def test_bloom_sidecar_rebuilt_when_missing_or_stale(spark, pages_dir, tmp_path_factory):
    """Round-2 advice: (a) enabling use_bloom mid-life on a warehouse with
    no sidecar rebuilds it from the FULL frontier, not just the next wave's
    inserts; (b) a frontier commit with no sidecar stamped with its version
    (made outside a Bloom engine) triggers a rebuild — no frontier hash may
    ever be invisible to the Bloom (exactness contract); (c) a Bloom engine
    stamps a sidecar after each of its frontier commits, so after waves, a
    fast pass and a cleanup a restarted engine loads it without
    rebuilding."""
    from playwrightcrawler_spark.operators import seen

    kw = dict(wave_size=100, per_host_quota=2, method_weights={"oldest": 1})
    bloom = dict(kw, use_bloom=True, bloom_items_per_bucket=1000)
    wh = tmp_path_factory.mktemp("wh_bloom_life")
    eng = CrawlEngine(spark, pages_dir, str(wh), **kw)          # bloom OFF
    eng.run(2, seed_urls=pages_gen.seed_urls())

    # (a) flag enabled mid-life: sidecar missing → rebuilt from full frontier
    eng2 = CrawlEngine(spark, pages_dir, str(wh), **bloom)
    assert eng2.bloom.rows(spark), "sidecar not rebuilt on enable"
    cover = eng2.lake.frontier.read(spark).withColumn(
        "m", seen.maybe_seen_col(spark, eng2.bloom.rows(spark)))
    assert cover.filter(~F.col("m")).count() == 0            # zero false negatives

    # (b) a frontier commit no sidecar covers: rebuilt at the next probe
    extra = eng2._frontier_rows(
        eng2._hashed_links(eng2._seed_links(["https://tail009.example.io/fresh.html"])),
        wave=99,
    )
    v = eng2.lake.frontier.commit_wave(inserts=extra, flips=None, meta={"wave": 99})
    eng3 = CrawlEngine(spark, pages_dir, str(wh), **bloom)
    eng3.bloom.rows(spark)
    side = eng3.lake.seen_bloom.versions()[-1]
    assert (side["op"], side["frontier_version"]) == ("rebuild", v)
    cover3 = eng3.lake.frontier.read(spark).withColumn(
        "m", seen.maybe_seen_col(spark, eng3.bloom.rows(spark)))
    assert cover3.filter(~F.col("m")).count() == 0

    # (c) waves, a fast pass and a cleanup (which deletes an injected
    # trap row and so writes a new base): the sidecar stays in step
    wh2 = str(tmp_path_factory.mktemp("wh_bloom_stamped"))
    eng4 = CrawlEngine(spark, pages_dir, wh2, **bloom)
    eng4.run(2, seed_urls=pages_gen.seed_urls(), fast_pass_every=1)
    trap = spark.createDataFrame(
        [("https://trap.example.net/a/b/a/b/a/b/x", -4242, "trap.example.net",
          1, 1, 0.5, False, None, 2)],
        "url string, url_hash long, host string, host_salt int, depth int,"
        " score double, visited boolean, discovered_at timestamp, wave int",
    )
    eng4.lake.frontier.commit_wave(inserts=trap, flips=None)
    assert eng4.run_cleanup_pass(wave=2, remove_repeated=True)["deleted"] == 1
    eng4.run(1)
    side_v = eng4.lake.seen_bloom.latest_version
    eng5 = CrawlEngine(spark, pages_dir, wh2, **bloom)
    assert eng5.bloom.rows(spark)
    assert eng5.lake.seen_bloom.latest_version == side_v


def test_bloom_probe_sees_another_engines_commit(spark, pages_dir, tmp_path):
    """Two engines on one warehouse in one process: a Bloom-off engine
    ingests a URL after the Bloom engine's wave. The Bloom engine's next
    probe finds the sidecar stamped with an older frontier version and
    rebuilds it inside its own ingest, so the URL is known and the
    frontier keeps one row per url_hash. An engine holding its own copy of
    the sidecar called the URL new and inserted it a second time."""
    kw = dict(wave_size=50, method_weights={"oldest": 1})
    fresh = ["https://tail009.example.io/fresh.html"]
    a = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), use_bloom=True,
                    bloom_items_per_bucket=1000, **kw)
    a.run(1, seed_urls=pages_gen.seed_urls())
    b = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), **kw)
    assert b.ingest(fresh) == 1
    assert a.ingest(fresh) == 0
    fr = a.lake.frontier.read(spark)
    assert fr.count() == fr.select("url_hash").distinct().count()
    side = a.lake.seen_bloom.versions()[-1]
    assert (side["op"], side["frontier_version"]) == ("rebuild", a.lake.frontier.latest_version)


def _measured_fpp(rows) -> float:
    """False-positive rate of a sidecar over 10k probe hashes it never saw."""
    import numpy as np

    from playwrightcrawler_spark.operators import seen

    fp = tot = 0
    probe = (np.arange(10_000, dtype=np.int64) * np.int64(2654435761)) + np.int64(987654321)
    for r in rows:
        bits = np.frombuffer(r["bits"], dtype=np.uint8)
        hits = seen._test_bits(bits, probe, int(r["m_bits"]), int(r["k"]))
        fp += int(hits.sum())
        tot += len(probe)
    return fp / tot


def _many_seeds(spark, n: int = 20_000):
    return spark.range(n).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".example.org/p.html")).alias("url")
    )


def test_bloom_sized_from_bootstrap(spark, pages_dir, tmp_path_factory):
    """Bootstrap writes a base, so like every base write it sizes the
    sidecar from the frontier's key count: a 20k-seed bootstrap against a
    ~300x undersized ``bloom_items_per_bucket`` starts at the configured
    FPP, and discovered links take the Bloom pre-filter from wave 1."""
    from playwrightcrawler_spark import config

    wh = tmp_path_factory.mktemp("wh_bloom_bootstrap")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=50, per_host_quota=2,
                      method_weights={"oldest": 1}, use_bloom=True,
                      bloom_items_per_bucket=1)
    eng.bootstrap(_many_seeds(spark))
    assert _measured_fpp(eng.bloom.rows(spark)) < 2 * config.BLOOM_FPP


def test_bloom_resize_on_compaction(spark, pages_dir, tmp_path_factory):
    """Round-2 verdict: a sidecar sized for N items must not silently
    saturate when the frontier outgrows it — compaction rebuilds with
    (m, k) re-derived from actual counts, keeping measured FPP < 2x the
    configured target."""
    from playwrightcrawler_spark import config
    from playwrightcrawler_spark.operators import seen

    wh = tmp_path_factory.mktemp("wh_bloom_resize")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=50, per_host_quota=2,
                      method_weights={"oldest": 1}, use_bloom=True,
                      bloom_items_per_bucket=1,       # ~300x undersized
                      compact_every=2)
    eng.bootstrap(pages_gen.seed_urls())              # sized for 10 keys
    # 20k urls OR-merged into the bootstrap's 64-bit buckets: saturated
    eng.ingest(_many_seeds(spark))
    saturated = _measured_fpp(eng.bloom.rows(spark))
    assert saturated > 0.5, saturated                 # degenerate pre-resize
    eng.run(1)                                        # 2nd delta → compact → rebuild
    assert any(e.get("op") == "compact" for e in eng.lake.frontier.versions())
    rows = eng.bloom.rows(spark)
    assert rows[0]["m_bits"] > 64                     # actually resized
    assert _measured_fpp(rows) < 2 * config.BLOOM_FPP
    # coverage invariant survives the rebuild
    cover = eng.lake.frontier.read(spark).withColumn(
        "m", seen.maybe_seen_col(spark, rows))
    assert cover.filter(~F.col("m")).count() == 0


def test_monthly_partition_routing(crawl_result, spark):
    """S3: crawled rows land in month=YYYY-MM partition directories and a
    month filter prunes at the source (reference monthly indices)."""
    import glob

    eng, _ = crawl_result
    snap = eng.lake.crawled._snap_dir(1)
    parts = glob.glob(f"{snap}/month=*")
    assert parts and all("month=2025-06" in p for p in parts), parts
    # one relation per month, the month a literal: a month filter keeps or
    # drops whole relations at planning, before any file is read
    df = eng.lake.crawled.read(spark).filter(F.col("month") == "2025-06")
    assert "FileScan parquet" in df._jdf.queryExecution().executedPlan().toString()
    assert df.inputFiles() and all("/month=2025-06/" in f for f in df.inputFiles())
    assert df.count() > 0
    pruned = eng.lake.crawled.read(spark).filter(F.col("month") == "1999-01")
    assert "FileScan" not in pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 0


def test_raw_webcontent_flag(spark, pages_dir, tmp_path_factory):
    """EXTRACT_RAW_WEBCONTENT=True stores the truncated raw HTML for html
    rows (reference playwrightcrawler.py:3437); off by default — and the
    default schema must not carry the column at all."""
    wh = tmp_path_factory.mktemp("wh_raw")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=50,
                      method_weights={"oldest": 1},
                      extract_raw_webcontent=True)
    eng.run(2, seed_urls=pages_gen.seed_urls())
    crawled = eng.lake.crawled.read(spark)
    html_row = crawled.filter(F.col("route") == "html").first()
    assert html_row.raw_webcontent.startswith("<!DOCTYPE html>")
    other = crawled.filter(F.col("route") == "image").first()
    if other:
        assert other.raw_webcontent is None
    # default engine: no such column
    wh2 = tmp_path_factory.mktemp("wh_noraw")
    eng2 = CrawlEngine(spark, pages_dir, str(wh2), wave_size=20,
                       method_weights={"oldest": 1})
    eng2.run(1, seed_urls=pages_gen.seed_urls())
    assert "raw_webcontent" not in eng2.lake.crawled.read(spark).columns


def test_raw_webcontent_change_refused_at_commit(spark, pages_dir, tmp_path_factory):
    """extract_raw_webcontent must stay constant per warehouse: rerunning a
    warehouse made without the column with it on raises at the crawled
    commit, naming the column. The commit used to succeed, after which
    every read of the month-partitioned table failed."""
    wh = str(tmp_path_factory.mktemp("wh_raw_drift"))
    CrawlEngine(spark, pages_dir, wh, wave_size=20, method_weights={"oldest": 1}).run(
        1, seed_urls=pages_gen.seed_urls())
    eng = CrawlEngine(spark, pages_dir, wh, wave_size=20, method_weights={"oldest": 1},
                      extract_raw_webcontent=True)
    with pytest.raises(ValueError, match=r"table crawled: .*raw_webcontent \(absent -> string\)"):
        eng.run(1)
    assert [e["wave"] for e in eng.lake.crawled.versions()] == [1]
    assert eng.lake.crawled.read(spark).count() > 0


def test_run_orchestrates_maintenance_phases(spark, pages_dir, tmp_path_factory, tmp_path):
    """X11/X12 + M-ops: one driver sequences crawl waves with the
    fast-extension pass, the cleanup pass, and continuous seed ingestion
    (the reference's instance-role split, playwrightcrawler.py:5384-5413)."""
    folder = tmp_path / "seed_folder"
    folder.mkdir()
    (folder / "s.txt").write_text("https://tail007.example.io/p2.html\n")
    wh = tmp_path_factory.mktemp("wh_orch")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=60,
                      per_host_quota=2, method_weights={"oldest": 1})
    out = eng.run(2, seed_urls=pages_gen.seed_urls(),
                  fast_pass_every=1, cleanup_every=2,
                  cleanup_flags=dict(remove_repeated=True, remove_invalid=True),
                  seed_folder=str(folder))
    ops = [m.get("op", "wave") for m in out]
    assert ops.count("wave") == 2
    assert "fast_pass" in ops and "cleanup" in ops
    fr = eng.lake.frontier.read(spark)
    # the folder seed was merged mid-crawl
    assert fr.filter(F.col("url") == "https://tail007.example.io/p2.html").count() == 1
    # fast pass consumed extension-routed candidates with a verdict
    crawled = eng.lake.crawled.read(spark)
    fast = crawled.filter(F.col("source") != "fetch_miss").filter(
        F.col("route").isin("image", "pdf", "plain_text", "torrent")
    )
    # resume still lands on the next crawl wave despite maintenance commits
    eng2 = CrawlEngine(spark, pages_dir, str(wh), wave_size=60,
                       per_host_quota=2, method_weights={"oldest": 1})
    assert eng2.last_committed_wave() == 2
    m3 = eng2.run_wave(3)
    assert m3["urls_selected"] >= 0


def test_seed_folder_files_are_ingested_once(spark, pages_dir, tmp_path):
    """``run(seed_folder=...)`` reads each file of the folder once per
    engine, as Spark's file stream source does: after one wave, an
    unchanged folder costs no ingest and no Spark job, and a file added
    between waves is ingested on its own. Every wave used to re-read the
    whole folder and run the link stage over it."""
    from playwrightcrawler_spark.sources import seeds

    folder = tmp_path / "seed_folder"
    folder.mkdir()
    (folder / "a.txt").write_text("https://tail007.example.io/p2.html\n")
    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), wave_size=50,
                      method_weights={"oldest": 1}, hunt_open_directories=False)
    eng.run(1, seed_urls=pages_gen.seed_urls(), seed_folder=str(folder))

    sc = spark.sparkContext
    group = f"seed-folder-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        assert seeds.ingest_seeds(eng, str(folder), eng._seed_files) == 0
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    (folder / "b.txt").write_text("https://tail005.example.io/p1.html\n")
    read, ingest = [], eng.ingest
    eng.ingest = lambda urls: read.append(urls.inputFiles()) or ingest(urls)
    eng.run(2, seed_folder=str(folder))
    assert [[Path(f).name for f in files] for files in read] == [["b.txt"]]
    urls = {r.url for r in eng.lake.frontier.read(spark).select("url").collect()}
    assert {"https://tail007.example.io/p2.html", "https://tail005.example.io/p1.html"} <= urls


def test_cleanup_pass_deletes_and_counts(spark, pages_dir, tmp_path_factory):
    """M1: a frontier row violating an enabled rule is deleted and counted;
    rule disabled → untouched."""
    wh = tmp_path_factory.mktemp("wh_clean")
    eng = CrawlEngine(spark, pages_dir, str(wh), wave_size=20,
                      method_weights={"oldest": 1})
    eng.bootstrap(pages_gen.seed_urls())
    # sneak a crawler-trap row past the (bypassed) hygiene
    bad = spark.createDataFrame(
        [("https://trap.example.net/a/b/a/b/a/b/x", -4242, "trap.example.net",
          1, 1, 0.5, False, None, 0)],
        "url string, url_hash long, host string, host_salt int, depth int,"
        " score double, visited boolean, discovered_at timestamp, wave int",
    )
    eng.lake.frontier.commit_wave(inserts=bad, flips=None, meta={"op": "test_inject"})
    before = eng.lake.frontier.read(spark).count()
    m = eng.run_cleanup_pass(wave=0, remove_repeated=True, remove_invalid=False)
    assert m["deleted"] == 1 and m["rules"] == {"repeated_segments": 1}
    fr = eng.lake.frontier.read(spark)
    assert fr.count() == before - 1
    assert fr.filter(F.col("host") == "trap.example.net").count() == 0
    stats = eng.lake.wave_metrics.read(spark).filter(
        F.col("scope") == "cleanup:repeated_segments"
    )
    assert stats.count() == 1
    # idempotent / no-op second pass commits nothing
    v = eng.lake.frontier.latest_version
    m2 = eng.run_cleanup_pass(wave=1, remove_repeated=True)
    assert m2["deleted"] == 0 and eng.lake.frontier.latest_version == v


def test_time_travel(crawl_result, spark):
    """S8 backup/restore analogue: earlier snapshots stay readable and
    smaller-or-equal than the head."""
    eng, _ = crawl_result
    v_head = eng.lake.frontier.latest_version
    head = eng.lake.frontier.read(spark).count()
    v1 = eng.lake.frontier.read(spark, version=1).count()
    assert v_head > 1
    assert v1 <= head


def _closed_link_pages(path: str, n: int = 6) -> list[str]:
    """n html pages on one host that link only to each other, plus one
    href per hygiene drop reason and a mailto link on every page."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls = [f"https://closed.example/p{i}.html" for i in range(n)]
    html = [
        (
            f"<!DOCTYPE html><html><head><title>p{i}</title></head><body>"
            f"<p>closed page {i}</p>"
            f'<a href="/p{(i + 1) % n}.html">next</a>'
            f'<a href="https://closed.example/p{(i + 2) % n}.html#top">skip</a>'
            '<a href="javascript:void(0)">embedded</a>'
            f'<a href="/long/{"q" * 4200}">too long</a>'
            '<a href="https://fonts.gstatic.com/s.css">blocked host</a>'
            '<a href="/fonts/fonts/fonts/a.woff">repeated segments</a>'
            f'<a href="mailto:owner{i}@closed.example">mail</a>'
            "</body></html>"
        ).encode()
        for i in range(n)
    ]
    pq.write_table(pa.table({"url": urls, "html": html}), f"{path}/part-0.parquet")
    return urls


@pytest.mark.parametrize("bucket_lineage", [False, True])
def test_link_counters_when_every_link_is_known(spark, tmp_path, bucket_lineage):
    """A wave whose clean links are all already in the frontier inserts
    nothing, yet wave_metrics must carry the true links_seen and per-reason
    drop counts (the counters used to be pruned with the empty branch)."""
    pages = tmp_path / "pages"
    pages.mkdir()
    urls = _closed_link_pages(str(pages))
    eng = CrawlEngine(spark, str(pages), str(tmp_path / "wh"), wave_size=100,
                      per_host_quota=100, hunt_open_directories=False,
                      bucket_lineage=bucket_lineage)
    eng.bootstrap(urls)
    m = eng.run_wave(1)
    assert (m["urls_fetched"], m["links_new"], m["links_seen"]) == (6, 0, 36)
    got = {
        r["scope"] + "/" + r["metric"]: r["value"]
        for r in eng.lake.wave_metrics.read(spark).filter(F.col("wave") == 1).collect()
    }
    assert got["wave/links_seen"] == 36
    assert got["wave/links_new"] == 0
    assert got["wave/emails"] == 6
    drops = {k.split("/")[0]: v for k, v in got.items() if k.startswith("drop:")}
    assert drops == {
        "drop:embedded": 6, "drop:too_long": 6,
        "drop:blocked_host": 6, "drop:repeated_segments": 6,
    }


class _Killed(Exception):
    pass


_FRESH_SEED = "https://tail005.example.io/p1.html"
_KILL_ENGINES = {
    "bloom": dict(use_bloom=True, bloom_items_per_bucket=1000),
    "bloom_compact": dict(use_bloom=True, bloom_items_per_bucket=1000, compact_every=1),
}


@pytest.fixture(scope="module")
def kill_refs() -> dict:
    """Uninterrupted runs' warehouses, by (engine, program), built once."""
    return {}


def _step(eng, step: str) -> None:
    if step == "wave":
        assert not eng.run_wave(eng.last_committed_wave() + 1)["done"]
    else:
        eng.ingest([_FRESH_SEED])


def _kill_engine(spark, pages_dir, wh, engine) -> CrawlEngine:
    return CrawlEngine(spark, pages_dir, str(wh), wave_size=100, per_host_quota=2,
                       hunt_open_directories=False, **_KILL_ENGINES[engine])


def _warehouse(spark, lake) -> dict:
    """Each table's rows as sorted strings: crawled with multiplicity, the
    frontier's state columns, wave_metrics without ``committed_at`` and
    the Bloom sidecar."""
    frames = {
        "crawled": lake.crawled.read(spark),
        "frontier": lake.frontier.read(spark).select(
            "url", "url_hash", "host", "depth", "visited", "wave"),
        "wave_metrics": lake.wave_metrics.read(spark).drop("committed_at"),
        "seen_bloom": lake.seen_bloom.read(spark),
    }
    return {name: sorted(map(str, df.collect())) for name, df in frames.items()}


@pytest.mark.parametrize("engine,table,method,step,rest", [
    ("bloom", "crawled", "append", "wave", ["wave", "wave"]),
    ("bloom", "frontier", "commit_wave", "wave", ["ingest", "wave", "wave"]),
    ("bloom_compact", "frontier", "compact", "wave", ["wave", "wave"]),
    ("bloom", "seen_bloom", "write_rows", "wave", ["wave", "wave"]),
    ("bloom", "wave_metrics", "write_rows", "wave", ["wave", "wave"]),
    ("bloom", "frontier", "commit_wave", "ingest", ["ingest", "wave", "wave"]),
], ids=["crawled_append", "frontier_commit", "compaction", "sidecar", "wave_metrics",
        "ingest_commit"])
def test_kill_anywhere_resumes_to_the_same_warehouse(
        spark, pages_dir, tmp_path, kill_refs, engine, table, method, step, rest):
    """A kill right after any one commit of an operation — the wave's
    crawled append, frontier commit, compaction, sidecar write or metrics
    write, or an ingest's commit — publishes none of that operation's
    commits, so a fresh engine that finishes the run writes the same
    warehouse, table by table, as an uninterrupted run. In the
    frontier-commit case the resumed engine first ingests a new seed into
    the killed wave's version number, whose directory still holds the
    killed wave's flips. With one manifest per table, a kill after the
    crawled append duplicated the wave's crawled rows on resume, and one
    after the frontier commit lost the wave's metrics."""
    program = ["wave"] + rest
    key = (engine, tuple(program))
    if key not in kill_refs:
        ref = _kill_engine(spark, pages_dir, tmp_path / "ref", engine)
        ref.bootstrap(pages_gen.seed_urls())
        for s in program:
            _step(ref, s)
        kill_refs[key] = _warehouse(spark, ref.lake)

    eng = _kill_engine(spark, pages_dir, tmp_path / "wh", engine)
    eng.bootstrap(pages_gen.seed_urls())
    _step(eng, "wave")
    target = getattr(eng.lake, table)
    commit = getattr(target, method)

    def killed(*a, **kw):
        commit(*a, **kw)
        raise _Killed(f"{table}.{method}")

    setattr(target, method, killed)
    with pytest.raises(_Killed):
        _step(eng, step)
    spark.catalog.clearCache()

    resumed = _kill_engine(spark, pages_dir, tmp_path / "wh", engine)
    for s in rest:
        _step(resumed, s)
    assert _warehouse(spark, resumed.lake) == kill_refs[key]


def test_wave_commits_overlap(spark, pages_dir, tmp_path, monkeypatch):
    """A wave's crawled append and its frontier commit run at once, on two
    driver threads: the append waits until the frontier commit is done,
    which times out when they run one after the other."""
    import threading

    eng = _kill_engine(spark, pages_dir, tmp_path / "wh", "bloom")
    eng.bootstrap(pages_gen.seed_urls())
    append, commit_wave = eng.lake.crawled.append, eng.lake.frontier.commit_wave
    committed, seen = threading.Event(), {}

    def held_append(*a, **kw):
        seen["crawled"] = threading.get_ident()
        seen["overlapped"] = committed.wait(timeout=60)
        return append(*a, **kw)

    def signalling_commit(*a, **kw):
        seen["frontier"] = threading.get_ident()
        try:
            return commit_wave(*a, **kw)
        finally:
            committed.set()

    monkeypatch.setattr(eng.lake.crawled, "append", held_append)
    monkeypatch.setattr(eng.lake.frontier, "commit_wave", signalling_commit)
    assert not eng.run_wave(1)["done"]
    assert seen["overlapped"]
    assert seen["crawled"] != seen["frontier"]


@pytest.mark.parametrize("failing,held", [
    (("frontier", "commit_wave"), ("crawled", "append")),
    (("crawled", "append"), (None, "_commit_links")),
], ids=["frontier_fails", "crawled_fails"])
def test_abort_waits_for_the_other_commit(
        spark, pages_dir, tmp_path, kill_refs, failing, held):
    """One of a wave's two concurrent commits raises while the other is
    still held; the held one resumes only after the failure. The wave
    raises once both are done, no thread of it is left running, and the
    held branch's commit is discarded with the rest: the same engine's
    next ingest publishes no stray version of it, and a resumed engine
    writes the warehouse of an uninterrupted run. Had the wave returned
    before the held branch, its commit would have landed in the reloaded
    manifest and been published by that ingest."""
    import threading

    from playwrightcrawler_spark.sources.tables import Lakehouse

    program = ["wave", "ingest", "wave", "wave"]
    key = ("bloom", tuple(program))
    if key not in kill_refs:
        ref = _kill_engine(spark, pages_dir, tmp_path / "ref", "bloom")
        ref.bootstrap(pages_gen.seed_urls())
        for s in program:
            _step(ref, s)
        kill_refs[key] = _warehouse(spark, ref.lake)

    wh = tmp_path / "wh"
    eng = _kill_engine(spark, pages_dir, wh, "bloom")
    eng.bootstrap(pages_gen.seed_urls())
    _step(eng, "wave")
    published = {t: getattr(eng.lake, t).versions() for t in Lakehouse.TABLES}

    release, threads, done = threading.Event(), [], []
    fail_obj = getattr(eng.lake, failing[0])
    hold_obj = eng if held[0] is None else getattr(eng.lake, held[0])
    fail, hold = getattr(fail_obj, failing[1]), getattr(hold_obj, held[1])

    def failing_commit(*a, **kw):
        threads.append(threading.current_thread())
        fail(*a, **kw)
        threading.Timer(0.5, release.set).start()
        raise _Killed(".".join(filter(None, failing)))

    def held_commit(*a, **kw):
        threads.append(threading.current_thread())
        assert release.wait(timeout=60)
        out = hold(*a, **kw)
        done.append(held[1])
        return out

    setattr(fail_obj, failing[1], failing_commit)
    setattr(hold_obj, held[1], held_commit)
    try:
        with pytest.raises(_Killed):
            _step(eng, "wave")
    finally:
        setattr(fail_obj, failing[1], fail)
        setattr(hold_obj, held[1], hold)
    assert done == [held[1]]
    assert len(threads) == 2
    assert not any(t.is_alive() for t in threads if t is not threading.current_thread())
    spark.catalog.clearCache()

    _step(eng, "ingest")
    on_disk = Lakehouse(str(wh))
    assert on_disk.crawled.versions() == published["crawled"]
    assert on_disk.wave_metrics.versions() == published["wave_metrics"]
    assert len(on_disk.frontier.versions()) == len(published["frontier"]) + 1

    resumed = _kill_engine(spark, pages_dir, wh, "bloom")
    for s in program[2:]:
        _step(resumed, s)
    assert _warehouse(spark, resumed.lake) == kill_refs[key]

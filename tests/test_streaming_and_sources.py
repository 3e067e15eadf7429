"""Streaming link ingestion + seed-folder source + snapshot-table
semantics + cleanup + multimodal plumbing."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from playwrightcrawler_spark.operators import cleanup, multimodal
from playwrightcrawler_spark.sources import seeds
from playwrightcrawler_spark.sources.tables import SnapshotTable


def test_seed_folder(spark, tmp_path):
    folder = tmp_path / "input_url_files"
    folder.mkdir()
    (folder / "a.txt").write_text(
        "https://a.example/\n\n# comment\nhttps://b.example/x\nhttps://a.example/\n"
    )
    df = seeds.read_seed_folder(spark, str(folder))
    urls = {r.url for r in df.collect()}
    assert urls == {"https://a.example/", "https://b.example/x"}


def test_streaming_frontier_ingest(spark, pages_dir, tmp_path):
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.streaming.frontier_stream import start_frontier_ingest

    links_dir = tmp_path / "links"
    links_dir.mkdir()
    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"))
    (links_dir / "batch1.txt").write_text(
        "https://s1.example/a\n"
        "htpps://typo.example/b\n"            # scheme typo → canonicalized
        "javascript:void(0)\n"                # embedded → dropped
        "https://www.gstatic.com/blocked\n"   # blocked host → dropped
        "https://s1.example/a\n"              # dup → collapsed
    )
    q = start_frontier_ingest(eng, str(links_dir), str(tmp_path / "ckpt"), trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.url for r in eng.lake.frontier.read(spark).collect()}
    assert rows == {"https://s1.example/a", "https://typo.example/b"}


def test_streaming_ingest_commits_through_the_link_stage(spark, pages_dir, tmp_path):
    """A micro-batch into a live frontier is an ingest: a URL the crawl
    already visited stays visited, the engine's hygiene drops a crawler
    trap, the batch publishes an O(batch) delta instead of rewriting the
    frontier as a new base, and the Bloom sidecar covers the new rows, so
    an engine restarted on the warehouse keeps it instead of rebuilding."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.operators import seen
    from playwrightcrawler_spark.sources import pages_gen
    from playwrightcrawler_spark.streaming.frontier_stream import start_frontier_ingest

    kw = dict(wave_size=50, method_weights={"oldest": 1}, use_bloom=True,
              bloom_items_per_bucket=1000)
    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), **kw)
    eng.run(1, seed_urls=pages_gen.seed_urls())
    fr, side = eng.lake.frontier, eng.lake.seen_bloom
    visited = fr.read(spark).filter(F.col("visited") & (F.col("wave") == 1)).first()["url"]
    trap = "https://tail007.example.io/a/b/a/b/a/b/a/b/a/b/"
    fresh = "https://tail005.example.io/p1.html"
    v_before = fr.latest_version

    links_dir = tmp_path / "links"
    links_dir.mkdir()
    (links_dir / "batch1.txt").write_text(f"{visited}\n{trap}\n{fresh}\n")
    q = start_frontier_ingest(eng, str(links_dir), str(tmp_path / "ckpt"), trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r["url"]: r for r in fr.read(spark).collect()}
    assert (rows[visited]["visited"], rows[visited]["wave"]) == (True, 1)
    assert trap not in rows
    assert fresh in rows
    assert [e["base"] for e in fr.versions() if e["version"] > v_before] == [False]
    assert side.versions()[-1]["frontier_version"] == fr.latest_version
    cover = fr.read(spark).withColumn("m", seen.maybe_seen_col(spark, side.read(spark).collect()))
    assert cover.filter(~F.col("m")).count() == 0
    side_v = side.latest_version
    assert CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), **kw).bloom.rows(spark)
    assert side.latest_version == side_v


def test_streaming_politeness_gate(spark, tmp_path):
    """Custom stateful streaming operator (applyInPandasWithState): at
    most quota URLs per host per micro-batch, the overflow carried in
    bounded per-host state and released by LATER triggers — even with no
    new input for that host."""
    import glob

    from playwrightcrawler_spark.streaming.frontier_stream import start_politeness_gate

    links_dir = tmp_path / "links"
    out_dir = tmp_path / "out"
    links_dir.mkdir()
    (links_dir / "b1.txt").write_text(
        "https://h1.example/a\n"
        "https://h1.example/b\n"
        "https://h1.example/c\n"
        "https://h2.example/x\n"
    )
    q = start_politeness_gate(
        spark, str(links_dir), str(out_dir), str(tmp_path / "ckpt_gate"),
        quota_per_trigger=1,
    )
    try:
        rows = []
        deadline = time.time() + 120
        while time.time() < deadline:
            # the sink directory is half-written between commits — read
            # failures and partial counts just mean "not yet"
            try:
                if glob.glob(str(out_dir / "*.parquet")):
                    rows = spark.read.parquet(str(out_dir)).collect()
                    # all 4 urls must eventually drain: h1's overflow
                    # released one per trigger from state, h2 immediately
                    if len(rows) >= 4:
                        break
            except Exception:
                pass
            time.sleep(1)
        assert {r.url for r in rows} == {
            "https://h1.example/a", "https://h1.example/b",
            "https://h1.example/c", "https://h2.example/x",
        }
        # politeness invariant: no batch ever released >1 url for a host
        assert all(r.emitted_in_batch == 1 for r in rows)
    finally:
        q.stop()


def test_streaming_windowed_rollup_watermark(spark, tmp_path):
    """The batch-oracled windowed_rollup (queries.py::events_windowed)
    run in STREAMING mode: append output emits a window only once its
    watermark passes, late-but-within-bound events land in their window,
    and too-late events are silently dropped."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    from playwrightcrawler_spark.streaming.rollup import windowed_rollup

    src = tmp_path / "events_in"
    src.mkdir()
    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.schema(schema).csv(str(src))
    rolled = windowed_rollup(stream, window="1 hour", watermark="30 minutes")
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rollup"))
        .start()
    )
    try:
        # batch 1: two events in window [10:00, 11:00) — watermark ends
        # at 10:20, window still open, nothing emitted
        (src / "b1.csv").write_text(
            "2024-01-01 10:05:00,click,1.0\n2024-01-01 10:50:00,click,2.0\n"
        )
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM rollup_test").count() == 0

        # batch 2: 12:00 advances the watermark to 11:30 > 11:00, so
        # window [10,11) finalizes — INCLUDING the 10:30 event that is
        # late (watermark was 10:20) but inside the 30-minute bound
        (src / "b2.csv").write_text(
            "2024-01-01 12:00:00,click,4.0\n2024-01-01 10:30:00,click,8.0\n"
        )
        q.processAllAvailable()
        rows = {
            (r["window_start"].isoformat(), r["events"], r["total_value"])
            for r in spark.sql("SELECT * FROM rollup_test").collect()
        }
        assert rows == {("2024-01-01T10:00:00", 3, 11.0)}

        # batch 3: 14:00 closes window [12,13); the 10:45 event is past
        # the watermark (11:30) — dropped, the closed window NOT revised
        (src / "b3.csv").write_text(
            "2024-01-01 14:00:00,click,16.0\n2024-01-01 10:45:00,click,32.0\n"
        )
        q.processAllAvailable()
        rows = {
            (r["window_start"].isoformat(), r["events"], r["total_value"])
            for r in spark.sql("SELECT * FROM rollup_test").collect()
        }
        assert rows == {
            ("2024-01-01T10:00:00", 3, 11.0),
            ("2024-01-01T12:00:00", 1, 4.0),
        }
    finally:
        q.stop()


def test_sessionize_gap_boundary(spark):
    """Session-boundary semantics pinned: an event at EXACTLY
    ``prev_ts + gap`` still merges (Spark session_window windows are
    end-inclusive for the merge test); one microsecond past the gap
    opens a new session. The DuckDB oracle's gaps-and-islands flag uses
    strictly-greater to match — the corpus's continuous timestamps never
    hit the boundary, so only this test pins it."""
    import datetime as dt

    from playwrightcrawler_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(hours=6)
    rows = [
        (1, t0, 1.0),
        (1, t0 + gap, 2.0),                                # exact gap: merges
        (1, t0 + gap + gap + dt.timedelta(microseconds=1), 4.0),  # past gap: new
        (2, t0, 8.0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = sorted(
        (r["user_id"], r["n_events"], r["total_value"])
        for r in sessionize(ev, gap="6 hours").collect()
    )
    assert out == [(1, 1, 4.0), (1, 2, 3.0), (2, 1, 8.0)]


def test_snapshot_delta_semantics(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "log", kind="delta")
    t.append(spark, spark.range(3).select(F.col("id")))
    t.append(spark, spark.range(3, 5).select(F.col("id")))
    assert t.read(spark).count() == 5
    assert t.read(spark, version=1).count() == 3  # time travel on deltas


@pytest.mark.parametrize(
    "body,expect",
    [
        ("User-agent: *\nDisallow: /private/\nCrawl-delay: 2",
         (["/private/"], 2000)),
        # only the matching agent group applies
        ("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /a/\nDisallow: /b/",
         (["/a/", "/b/"], None)),
        # stacked agent lines share the group
        ("User-agent: googlebot\nUser-agent: *\nDisallow: /x/",
         (["/x/"], None)),
        # empty Disallow = allow all; comments stripped
        ("User-agent: *\nDisallow:\n# note\nCrawl-delay: 0.5  # half",
         ([], 500)),
        # non-star group only → nothing applies to us
        ("User-agent: googlebot\nDisallow: /secret/", ([], None)),
        ("", ([], None)),
    ],
)
def test_parse_robots(body, expect):
    from playwrightcrawler_spark.functions import robotstxt

    assert robotstxt.parse_robots(body) == expect


def test_build_robots_rules_from_pages(spark, pages_dir):
    from playwrightcrawler_spark.functions import robotstxt

    rules = {r.host: r for r in robotstxt.build_robots_rules(
        spark.read.parquet(pages_dir)
    ).collect()}
    assert rules["mega.example.com"].disallow_prefixes == ["/sec3/"]
    assert rules["mega.example.com"].crawl_delay_ms == 1000
    assert rules["seed1.example.org"].disallow_prefixes == ["/hop1/", "/hop2/"]
    assert "seed2.example.org" not in rules      # allow-all → no row


def test_cleanup_rules(spark):
    df = spark.createDataFrame(
        [
            ("https://ok.example/a", "text/html", True),
            ("https://t.example/fonts/fonts/fonts/x", "text/html", True),
            ("https://www.gstatic.com/y", "", False),
            ("https://z.example/one/two#frag", "text/html", True),
        ],
        "url string, content_type string, visited boolean",
    ).withColumn("host", F.lower(F.try_parse_url("url", F.lit("HOST"))))
    kept, stats = cleanup.cleanup(
        df, remove_repeated=True, remove_blocked_hosts=True, remove_invalid=True
    )
    reasons = {r.drop_reason: r.deleted for r in stats.collect()}
    assert reasons.get("repeated_segments") == 1
    assert reasons.get("blocked_host") == 1
    assert reasons.get("invalid_url") == 1  # '#frag' not canonical
    assert kept.count() == 1


def test_multimodal_metadata(spark, pages_dir):
    pages = spark.read.parquet(pages_dir).filter(F.col("url").rlike(r"\.(png|jpg|gif)$"))
    meta = multimodal.extract_media_metadata(
        pages, bin_col="html", decoder=multimodal.fake_decode
    )
    rows = meta.collect()
    assert len(rows) >= 3
    for r in rows:
        assert r.decode_ok and r.resolution == r.width * r.height
        assert len(r.sha256) == 64 and r.n_bytes > 0
        assert r.mode == "RGB" and r.filename.endswith(".png")
        assert len(r.filename) == 128 + 4                 # sha512 hex + .png
        assert r.isnsfw is None                           # no scorer attached


def test_multimodal_nsfw_seam(spark, pages_dir):
    """The isnsfw hook (reference opennsfw2 seam): scorer output lands in
    the column, gated on decode success and the min-resolution threshold."""
    pages = spark.read.parquet(pages_dir).filter(F.col("url").rlike(r"\.(png|jpg)$"))
    meta = multimodal.extract_media_metadata(
        pages, bin_col="html", decoder=multimodal.fake_decode,
        nsfw_scorer=lambda d: 0.25, min_nsfw_res=0,
    )
    rows = meta.collect()
    assert rows and all(r.isnsfw == 0.25 for r in rows if r.decode_ok)
    # below the resolution gate: never scored (reference MIN_NSFW_RES)
    meta_hi = multimodal.extract_media_metadata(
        pages, bin_col="html", decoder=multimodal.fake_decode,
        nsfw_scorer=lambda d: 0.25, min_nsfw_res=10**9,
    )
    assert all(r.isnsfw is None for r in meta_hi.collect())


def test_multimodal_nsfw_scorer_wiring(spark, pages_dir):
    """The shipped scorers: fake_nsfw_scorer runs the full seam end-to-end
    deterministically; real_nsfw_scorer is import-guarded exactly like the
    PIL decoder; default_nsfw_scorer resolves per environment."""
    import pytest as _pytest

    pages = spark.read.parquet(pages_dir).filter(F.col("url").rlike(r"\.(png|jpg)$"))
    meta = multimodal.extract_media_metadata(
        pages, bin_col="html", decoder=multimodal.fake_decode,
        nsfw_scorer=multimodal.fake_nsfw_scorer, min_nsfw_res=0,
    )
    rows = meta.collect()
    assert rows
    for r in rows:
        assert r.decode_ok and 0.0 <= r.isnsfw <= 1.0
        # deterministic: derived from the sha512 filename prefix
        assert r.isnsfw == int(r.filename[:4], 16) / 65535.0
    if multimodal._HAVE_NSFW:  # pragma: no cover - model present
        assert multimodal.default_nsfw_scorer() is multimodal.real_nsfw_scorer
    else:
        assert multimodal.default_nsfw_scorer() is None
        with _pytest.raises(NotImplementedError):
            multimodal.real_nsfw_scorer({"image": None})


def test_multimodal_decoder_unavailable(spark, pages_dir):
    """The real-decode path must degrade row-wise, not kill tasks."""
    import pytest as _pytest

    if multimodal._HAVE_PIL:
        _pytest.skip("Pillow installed: real decode path active")
    pages = spark.read.parquet(pages_dir).filter(F.col("url").rlike(r"\.png$")).limit(2)
    meta = multimodal.extract_media_metadata(pages, bin_col="html")  # real_decode
    rows = meta.collect()
    assert rows and all(
        (not r.decode_ok) and r.decode_error == "decoder_unavailable" for r in rows
    )
    assert all(r.sha256 for r in rows)  # hash/bytes plumbing still ran


def test_multimodal_real_decode_with_pil(spark, pages_dir):
    """Runs only where Pillow exists (production cluster): real dimensions,
    normalized mode, sha512-of-pixels filename, reference error taxonomy
    on corrupt payloads."""
    import pytest as _pytest

    if not multimodal._HAVE_PIL:
        _pytest.skip("Pillow not installed in this sandbox")
    pages = spark.read.parquet(pages_dir).filter(F.col("url").rlike(r"\.(png|jpg|gif)$"))
    rows = multimodal.extract_media_metadata(pages, bin_col="html").collect()
    ok = [r for r in rows if r.decode_ok]
    bad = [r for r in rows if not r.decode_ok]
    # fixture payloads are magic-byte prefixes, not valid images — they
    # must land in the reference taxonomy, never kill the task
    assert all(r.decode_error in
               ("unidentified_image_error", "decompression_bomb_error", "oserror")
               for r in bad)
    for r in ok:
        assert r.resolution == r.width * r.height and r.filename.endswith(".png")


def test_pyfiles_zip_self_contained(tmp_path):
    """north_rule deploy path: the --py-files zip built by
    scripts/make_pyfiles.py must import standalone (no repo dir on the
    path) — every engine module resolves from inside the zip."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "scripts/make_pyfiles.py", str(tmp_path / "pkg.zip")],
        capture_output=True, text=True, cwd=repo,
    )
    zip_path = out.stdout.strip()
    assert zip_path.endswith(".zip"), out.stderr
    code = (
        f"import sys; sys.path.insert(0, {zip_path!r}); "
        "import playwrightcrawler_spark.crawl.engine, "
        "playwrightcrawler_spark.queries, playwrightcrawler_spark.oracles, "
        "playwrightcrawler_spark.streaming.frontier_stream; print('ok')"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert r.stdout.strip() == "ok", r.stderr[-800:]

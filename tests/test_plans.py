"""Physical-plan audits (SURVEY.md §4): pushdown, pruning, broadcast,
Arrow-only python, bounded shuffles. These tests fail when a regression
turns a designed plan into an accidental one."""

from __future__ import annotations

import functools
import os

import pytest
from pyspark.sql import functions as F

from playwrightcrawler_spark.plans import audit


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    pushed = audit.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed
    cols = audit.read_schema_columns(df)
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_fetch_join_is_broadcast(spark, pages_dir):
    """The wave⋈pages join must broadcast the wave side — a shuffled pages
    table is the #1 scale failure for this engine."""
    pages = spark.read.parquet(pages_dir).select("url", "html")
    wave = spark.createDataFrame(
        [(f"https://seed{i}.example.org/",) for i in range(4)], "url string"
    )
    joined = pages.join(F.broadcast(wave), "url", "inner")
    assert audit.has_broadcast_join(joined)
    assert audit.shuffle_count(joined) == 0


@pytest.mark.parametrize("key, value", [
    ("spark.python.worker.reuse", "true"),
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "256"),
    ("spark.sql.files.maxPartitionBytes", "4194304"),
    ("spark.sql.files.openCostInBytes", "524288"),
])
def test_python_workers_are_reused(spark, key, value):
    """Daemon python workers must be reused across tasks (round-4 verdict
    #6): with reuse off every task re-pays fork + numpy/pandas import,
    which lands inside the timed wave at high core counts. The Arrow batch
    cap and the scan-split sizes (session.py) are pinned beside it.
    Asserted on the effective session conf, not the builder arg."""
    assert spark.conf.get(key) == value


def test_extraction_is_arrow_vectorized(spark, pages_dir):
    from playwrightcrawler_spark.functions import udfs

    pages = spark.read.parquet(pages_dir).withColumn("route", F.lit("html"))
    out = udfs.with_extraction(pages, "html", "url", "route")
    plan = audit.physical_plan(out)
    assert "ArrowEvalPython" in plan
    assert audit.uses_arrow_udfs_only(out)
    # fused kernel: exactly one python eval node for all five outputs
    assert plan.count("ArrowEvalPython") == 1


def test_routing_stays_jvm_side(spark, pages_dir):
    from playwrightcrawler_spark.functions import routing, sniff, sqlfns

    pages = spark.read.parquet(pages_dir)
    routed = (
        pages.withColumn("ext", sqlfns.file_extension(sqlfns.path_of(F.col("url"))))
        .withColumn("ct", sniff.sniff_content_type(F.col("html"), F.col("ext")))
        .withColumn("route", routing.route_col(routing.sanitize_content_type_col(F.col("ct"))))
        .select("url", "route")
    )
    plan = audit.physical_plan(routed)
    assert "EvalPython" not in plan  # no python in the routing path
    assert audit.wholestage_codegen_ids(routed) >= 1  # codegen compiled


def test_pricing_summary_single_shuffle(spark, sf_dir):
    from playwrightcrawler_spark.queries import q_pricing_summary

    df = q_pricing_summary(spark, sf_dir)
    # one shuffle for the groupBy — partial aggregation must be present
    assert audit.shuffle_count(df) == 1
    assert "partial" in audit.physical_plan(df).lower()


def test_topk_uses_take_ordered(spark, sf_dir):
    from playwrightcrawler_spark.queries import q_embedding_topk

    df = q_embedding_topk(spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.physical_plan(df)


def test_bucketed_lsh_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """Round-4 verdict #4: persisting the corpus hive-partitioned by
    hyperplane bucket turns the probe filter into partition pruning — the
    probe scan must (a) carry the bucket predicate as a PartitionFilter,
    (b) open only the probed buckets' files, a strict subset of the
    table, and (c) return exactly what the recompute-per-query lsh_topk
    returns on the same corpus."""
    import pyspark.sql.functions as F

    from playwrightcrawler_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "emb_buckets")
    similarity.write_bucketed_signatures(emb, path, bits=8, seed=42)

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    probed = similarity.lsh_topk_bucketed(
        spark, path, qvec, k=20, bits=8, multiprobe=2
    )

    # (a) pruning predicate reaches the source as a partition filter
    pf = " ".join(audit.partition_filters(probed))
    assert "bucket" in pf and pf.count("IN") >= 1, pf

    # (b) the probe opens a strict subset of the table's files
    probe_scan = spark.read.parquet(path).filter(
        F.col("bucket").isin(similarity.probe_set(qvec, bits=8, seed=42, multiprobe=2))
    )
    files_read = {
        r[0] for r in probe_scan.select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0]
        for r in spark.read.parquet(path)
        .select(F.input_file_name()).distinct().collect()
    }
    assert files_read and files_read < all_files, (
        f"probe read {len(files_read)}/{len(all_files)} files"
    )
    # multiprobe=2 over 8 bits probes 37/256 buckets — the read fraction
    # must be in that ballpark, not "most of the table"
    assert len(files_read) <= max(1, len(all_files) // 2)

    # (c) identical answer to the recompute-per-query path
    recompute = similarity.lsh_topk(emb, qvec, k=20, bits=8, multiprobe=2)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in recompute.collect()
    ]


def test_bucketed_pages_wave_scan_prunes(spark, tmp_path):
    """Round-5 verdict #2: a pages table hive-partitioned by
    pmod(xxhash64(url), N) lets each wave push its bucket membership into
    the scan — (a) the predicate reaches the source as a PartitionFilter,
    (b) the wave opens a strict subset of the table's files, and (c) the
    fused fetch+extract output is identical to the unbucketed path."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    kw = dict(n_hosts=40, pages_per_host=5, paragraphs=2,
              include_assets=False, next_links=2)
    bucketed = str(tmp_path / "pages_bucketed")
    flat = str(tmp_path / "pages_flat")
    pages_gen.write_pages_scaled(spark, bucketed, url_buckets=16, **kw)
    pages_gen.write_pages_scaled(spark, flat, **kw)

    wave_urls = [
        "https://host00003.bench.example/p1.html",
        "https://host00017.bench.example/p0.html",
        "https://host00031.bench.example/p4.html",
    ]
    wave = (
        spark.createDataFrame([(u,) for u in wave_urls], "url string")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
        .withColumn("depth", F.lit(0))
        .withColumn("discovered_at", F.current_timestamp())
    )

    eng_b = CrawlEngine(spark, bucketed, str(tmp_path / "wh_b"),
                        method_weights={"oldest": 1})
    eng_f = CrawlEngine(spark, flat, str(tmp_path / "wh_f"),
                        method_weights={"oldest": 1})
    assert eng_b._url_buckets == 16 and eng_f._url_buckets is None

    fetched_b = eng_b._fused_fetch_extract(wave)

    # (a) the bucket predicate is a PartitionFilter on the pages scan
    pf = " ".join(audit.partition_filters(fetched_b))
    assert "url_bucket" in pf and "IN" in pf, pf
    # the broadcast shape survives the pruning filter
    assert audit.has_broadcast_join(fetched_b)
    assert audit.shuffle_count(fetched_b) == 0

    # (b) strict-subset file reads: 3 urls hit <= 3 of 16 buckets
    wave_buckets = [
        r[0] for r in wave.select(
            F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("b")
        ).distinct().collect()
    ]
    pruned = spark.read.parquet(bucketed).filter(F.col("url_bucket").isin(wave_buckets))
    files_read = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    all_files = {
        r[0] for r in spark.read.parquet(bucketed)
        .select(F.input_file_name()).distinct().collect()
    }
    assert files_read and files_read < all_files, (
        f"wave read {len(files_read)}/{len(all_files)} files"
    )
    assert len(files_read) <= max(1, len(all_files) // 2)

    # (c) identical extraction results to the unbucketed scan
    cols = ["url", "route", "text_extracted", "isopendir"]
    got = sorted(tuple(r) for r in fetched_b.select(cols).collect())
    want = sorted(
        tuple(r)
        for r in eng_f._fused_fetch_extract(wave).select(cols).collect()
    )
    assert got == want and len(got) == len(wave_urls)


def test_bucket_marker_read_through_a_uri(spark, tmp_path):
    """The pages table's bucket marker is read through the Hadoop
    FileSystem API, so a ``file://`` URI finds it as a plain path does.
    Read with a local ``open()``, the URI found no marker, and wave
    pruning was silently off."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    pages = tmp_path / "pages_bucketed"
    pages_gen.write_pages_scaled(spark, str(pages), url_buckets=16, n_hosts=4,
                                 pages_per_host=2, paragraphs=1,
                                 include_assets=False, next_links=1)
    eng = CrawlEngine(spark, pages.as_uri(), str(tmp_path / "wh"))
    assert eng._url_buckets == 16


def test_near_dup_plan_has_no_cartesian(spark, sf_dir):
    """The exposed embedding_near_dup must be the LSH-banded equi-join —
    never a cross join (the brute-force all-pairs form lives only in the
    DuckDB oracle)."""
    from playwrightcrawler_spark.queries import q_embedding_near_dup

    plan = audit.physical_plan(q_embedding_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _digest(df) -> tuple[int, int]:
    """Row count and an order-insensitive hash sum over the sorted columns
    (node_id is deployment config, not crawl output)."""
    cols = sorted(c for c in df.columns if c != "node_id")
    h = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(2**31 - 1))
    r = df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(r["n"]), int(r["s"])


def _record_commit_plans(monkeypatch, lake) -> list:
    """Wrap the crawled append and the frontier commit: every frame either
    receives is recorded as (argument name, its python eval nodes)."""
    plans = []

    def capture(obj, meth):
        orig = getattr(obj, meth)

        def wrapped(*a, **kw):
            frames = {**{f"{meth}[{i}]": x for i, x in enumerate(a)}, **kw}
            plans.extend(
                (name, audit.python_eval_nodes(df))
                for name, df in frames.items() if hasattr(df, "_jdf")
            )
            return orig(*a, **kw)

        monkeypatch.setattr(obj, meth, wrapped)

    capture(lake.crawled, "append")
    capture(lake.frontier, "commit_wave")
    return plans


def _assert_one_extraction_crossing(plans, passes: int) -> None:
    """Per pass: the crawled frame (append's second argument) and the
    frontier inserts each hold exactly the routed extraction UDF; the
    visited flips read the selection only."""
    want = {"append[1]": 1, "inserts": 1, "flips": 0}
    assert sorted(name for name, _ in plans) == sorted(list(want) * passes)
    for name, nodes in plans:
        assert len(nodes) == want[name], (name, nodes)
        assert all("extract_all_routed" in n for n in nodes), nodes


def test_wave_has_one_python_crossing(spark, pages_dir, tmp_path, monkeypatch):
    """With Bloom and hunting off, the only python a wave evaluates is the
    routed extraction UDF: the crawled append and the frontier inserts
    each hold exactly that one ArrowEvalPython (link resolution,
    sanitize_url, the repeated-segments check and mailto extraction ride
    inside it), the visited flips none. The tables equal those the engine
    wrote for the same seed when those per-link steps were separate UDFs
    (digests recorded from that engine)."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), wave_size=300,
                      per_host_quota=2, seed=7, hunt_open_directories=False,
                      use_bloom=False)
    eng.bootstrap(pages_gen.seed_urls())
    plans = _record_commit_plans(monkeypatch, eng.lake)
    metrics = eng.run(3)
    assert [m["done"] for m in metrics] == [False] * 3
    _assert_one_extraction_crossing(plans, passes=3)

    assert _digest(eng.lake.crawled.read(spark)) == (45, 44496452326)
    assert _digest(eng.lake.frontier.read(spark)) == (78, 78469828928)


def _bootstrap_and_ingest_plans(spark, pages_dir, tmp_path, monkeypatch):
    """Bootstrap's frontier base and an ingest's inserts. When the url
    filter of ``_dedupe_links`` was pushed below the UDF's projection it
    copied the UDF, and both plans held two ``seed_link`` nodes. The
    bootstrapped frontier is the one written before (digest recorded from
    that engine)."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), hunt_open_directories=False)
    plans = []
    for meth in ("write", "commit_wave"):
        def wrapped(*a, orig=getattr(eng.lake.frontier, meth), **kw):
            plans.extend(audit.python_eval_nodes(df)
                         for df in (*a, *kw.values()) if hasattr(df, "_jdf"))
            return orig(*a, **kw)

        monkeypatch.setattr(eng.lake.frontier, meth, wrapped)
    eng.bootstrap(pages_gen.seed_urls())
    assert _digest(eng.lake.frontier.read(spark)) == (10, 8622476720)
    assert eng.ingest(["https://tail005.example.io/p1.html"]) == 1
    assert len(plans) == 2
    return plans, "seed_link"


def _clean_links_plans(spark, pages_dir, tmp_path, monkeypatch):
    """The streaming link hygiene: its ``drop_reason`` filter, pushed below
    the UDF's projection, copied ``seed_link``."""
    from playwrightcrawler_spark.streaming.frontier_stream import clean_links

    links = spark.createDataFrame(
        [("https://a.example.org/x",), ("javascript:void(0)",),
         ("https://fonts.gstatic.com/s.css",)], "url string")
    cleaned = clean_links(links)
    assert [r.url for r in cleaned.collect()] == ["https://a.example.org/x"]
    return [audit.python_eval_nodes(cleaned)], "seed_link"


def _robots_rules_plans(spark, pages_dir, tmp_path, monkeypatch):
    """The robots rules scan: its rule filter, pushed below the UDF's
    projection, copied ``parse_robots_udf``."""
    from playwrightcrawler_spark.functions import robotstxt

    rules = robotstxt.build_robots_rules(spark.read.parquet(pages_dir))
    assert rules.count() == 2
    return [audit.python_eval_nodes(rules)], "parse_robots_udf"


def _bloom_anti_join_plans(spark, pages_dir, tmp_path, monkeypatch, salt_of_hash=False):
    """The Bloom seen-set: the bloom-negative branch, the positive branch
    and the false-positive rescue each evaluated the probe ``_maybe``.
    With ``salt_of_hash`` the salt is computed from url_hash, as in
    ``test_seen.py``'s frames (in the engine it derives from the host):
    Catalyst then inferred the probe's filter through the join key onto
    the frontier side, and the probe ran over every frontier row too."""
    from playwrightcrawler_spark.operators import seen

    def keys(prefix, n):
        h = F.xxhash64(F.concat(prefix, F.col("id")))
        salt = F.pmod(h, F.lit(64)) if salt_of_hash else F.pmod(F.col("id"), F.lit(8))
        return spark.range(n).select(h.alias("url_hash"), salt.cast("int").alias("host_salt"))

    frontier = keys(F.lit("seen:"), 200)
    # half of them seen
    candidates = keys(F.when(F.col("id") < 50, "seen:").otherwise("new:"), 100)
    blooms = seen.build_blooms(frontier, expected_items_per_bucket=100).collect()
    new = seen.anti_join_seen(candidates, frontier, spark, blooms=blooms)
    assert new.count() == 50
    return [audit.python_eval_nodes(new)], "_maybe"


@pytest.mark.parametrize("plans_of", [
    _bootstrap_and_ingest_plans, _clean_links_plans, _robots_rules_plans,
    _bloom_anti_join_plans, functools.partial(_bloom_anti_join_plans, salt_of_hash=True),
], ids=["bootstrap_ingest", "clean_links", "build_robots_rules", "bloom_anti_join_seen",
        "bloom_anti_join_seen_salt_of_hash"])
def test_each_pandas_udf_runs_once(spark, pages_dir, tmp_path, monkeypatch, plans_of):
    """Each pandas UDF of these plans is evaluated in ONE ArrowEvalPython,
    so it runs once per row. A filter Catalyst pushes below a projection
    copies the UDF that projection aliases; a generator's output
    (``F.inline(F.array(udf(...)))``) is not an alias, and stops it."""
    plans, udf = plans_of(spark, pages_dir, tmp_path, monkeypatch)
    for nodes in plans:
        assert len(nodes) == 1 and udf in nodes[0], nodes


@pytest.mark.parametrize("engine_kw,jobs", [
    (dict(use_bloom=False), [14, 18, 18]),
    (dict(use_bloom=True, compact_every=1), [20, 20, 20]),
], ids=["extract_like", "discover_like"])
def test_jobs_per_wave(spark, pages_dir, tmp_path, engine_kw, jobs):
    """Spark jobs in each of three waves, pinned: an extract-like engine
    (Bloom off) and a discover-like one (Bloom on, compaction every wave).
    When every table read and the pages scan inferred their schemas with a
    Spark job, and the Bloom rebuild counted the frontier keys with one,
    these engines ran [21, 25, 25] and [33, 33, 33] jobs; while bucket
    lineage cached the inserts and counted them per bucket in a separate
    aggregate, [16, 20, 20] and [23, 23, 23]. A change here is
    a change in the work a wave does: calling ``spark.read.parquet`` on a
    warehouse path adds one job per read."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), wave_size=300,
                      per_host_quota=2, seed=7, hunt_open_directories=False, **engine_kw)
    eng.bootstrap(pages_gen.seed_urls())
    sc = spark.sparkContext
    got = []
    for wave in (1, 2, 3):
        group = f"jobs-per-wave-{tmp_path.name}-{wave}"
        sc.setJobGroup(group, group)
        try:
            assert not eng.run_wave(wave)["done"]
        finally:
            sc._jsc.clearJobGroup()
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert got == jobs


def test_bloom_update_jobs_do_not_depend_on_bucket_lineage(spark, pages_dir, tmp_path):
    """The Bloom increment is built from the insert files its commit just
    wrote, so its Spark jobs are the same whether or not bucket lineage
    caches the inserts. Built from the inserts' lineage, an uncached wave
    re-ran the link pipeline, the Bloom probe and the confirm scan inside
    the update: 5 jobs per wave here against 3 with the cache."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    sc = spark.sparkContext
    jobs = {}
    for lineage in (True, False):
        eng = CrawlEngine(spark, pages_dir, str(tmp_path / f"wh_{lineage}"), wave_size=300,
                          per_host_quota=2, seed=7, hunt_open_directories=False,
                          use_bloom=True, bucket_lineage=lineage)
        eng.bootstrap(pages_gen.seed_urls())
        update, counts = eng.bloom.add, []

        def counted(spark, version, update=update, counts=counts, lineage=lineage):
            group = f"bloom-update-{tmp_path.name}-{lineage}-{len(counts)}"
            sc.setJobGroup(group, group)
            try:
                update(spark, version)
            finally:
                sc._jsc.clearJobGroup()
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))

        eng.bloom.add = counted
        for wave in (1, 2):
            assert not eng.run_wave(wave)["done"]
        jobs[lineage] = counts
    assert len(jobs[True]) == 2
    assert jobs[True] == jobs[False]


def test_fast_pass_has_one_python_crossing(spark, pages_dir, tmp_path, monkeypatch):
    """The fast-extension pass runs the wave's stages, so it too crosses
    into python once: the routed extraction UDF in the crawled append and
    the frontier inserts, nothing in the flips. Its tables equal those the
    engine wrote when the pass had its own fetch join, an unrouted html
    fallback UDF and separate decode/top_words UDFs for plain text:
    crawled (10, 12429592925), frontier (12, 11592585278), recorded from
    that engine on these seeds (binary routes, a pdf behind a .png, an
    html page behind a .png whose link is discovered, a dead URL and an
    html seed the pass never selects)."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine

    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"), wave_size=100,
                      per_host_quota=5, method_weights={"oldest": 1},
                      hunt_open_directories=False, use_bloom=False)
    eng.bootstrap([
        "https://cdn.example.com/assets/logo.png",
        "https://cdn.example.com/assets/fake.png",
        "https://cdn.example.com/assets/page.png",
        "https://docs.example.com/manual.pdf",
        "https://media.example.com/clip.mp4",
        "https://dead.example.net/gone.pdf",
        "https://seed0.example.org/",
        "https://cdn.example.com/assets/photo.jpg",
        "https://dl.example.com/bundle.zip",
        "https://media.example.com/song.mp3",
        "https://tracker.example.com/seed.torrent",
    ])
    plans = _record_commit_plans(monkeypatch, eng.lake)
    m = eng.run_fast_extension_pass(wave=1)
    assert (m["urls_selected"], m["ext_consistent"], m["links_new"]) == (10, 7, 1)
    _assert_one_extraction_crossing(plans, passes=1)

    assert _digest(eng.lake.crawled.read(spark)) == (10, 12429592925)
    assert _digest(eng.lake.frontier.read(spark)) == (12, 11592585278)

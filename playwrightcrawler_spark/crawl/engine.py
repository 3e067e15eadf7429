"""The wave-iterated crawl engine — the reference's main loop as DataFrame
jobs (SURVEY.md §3.1 "Spark equivalent lifecycle").

One wave =
    select  : frontier policy (F1-F4) + per-host politeness quota (J3)
    fetch   : broadcast-join the (small) wave against the pages table —
              replaces the live browser per BASELINE.json input_hint
    route   : content-type sniff → first-match route (R0)
    extract : ONE routed pandas UDF: text/words/opendir (E1-E6) plus each
              href resolved, split into web link or mailto address, and
              canonicalized (U1, U3, P1, P4) — the wave's only Python
    discover: explode links + open-dir tree expansion (P16) → JVM-side
              hygiene filters with drop accounting (P4-P10, A5)
    dedup   : dropDuplicates + anti-join against the frontier (J1/J2/J5)
    commit  : crawled delta-append beside (on a second driver thread)
              frontier increments + Bloom sidecar, then wave_metrics, all
              published together by one lakehouse transaction per wave
              (resumable from a kill anywhere — north_rule
              checkpoint/lineage)

Scale design:
- the wave side of every join is <= wave_size rows and broadcast, so the
  10^10-row pages/frontier tables are never shuffled on the fetch path;
- the wide shuffles are the per-host window (bounded by the candidate
  set) and the frontier rewrite (bucketed by host_salt on Iceberg);
- five Spark ACTIONS per wave with Bloom and compaction off (selection
  counts, cache fill, then at once the crawled write on one driver
  thread and the frontier inserts and flips writes on the other); a
  bucketed pages table, the Bloom update and a compaction add one each.
  Each action runs as one or more Spark JOBS (AQE submits every query
  stage and broadcast as its own job: 13 jobs per wave on the
  benchmark's crawl_extract shape). Table reads and the pages scan add
  none: they are planned from recorded schemas, not inferred. Counters
  ride on Observations attached to the write actions instead of
  separate count() actions;
- the two commits are chains of small jobs that wait on the driver, with
  the cores mostly idle, so they overlap (``_crawl``): they read
  only the cached wave frames and write different tables. Waves never
  overlap: a wave's selection depends on the previous wave's flips;
- crawled/wave_metrics are fast-append (delta) tables: commit cost is
  O(wave), only the frontier pays a rewrite (Iceberg MoR would make that
  O(wave) too);
- host_salt spreads mega-domains across tasks for hashing work while
  politeness aggregates on the raw host (SURVEY.md §7 hard part 4).

The stages are named methods (``_robots_step``, ``_fused_fetch_extract``,
``_append_crawled``/``_build_crawled``, ``_commit_links``), and ``_crawl``
is the one crawl body that runs them after a selector and writes one
metric set. ``run_wave`` and the fast-extension pass (X7/X8) are two
selectors over it: the weighted frontier policy, and the oldest
candidates carrying a mapped file extension. So there is one extraction
UDF, one crawled/frontier commit sequence and one set of wave_metrics
rows, told apart by their ``method``.

The Bloom sidecar has one owner, ``seen.BloomSidecar``, and the engine
keeps no copy of it: the seen-set probe asks it for the rows covering the
frontier's latest version (rebuilt first if another writer committed),
each base write (bootstrap, compaction, cleanup) has it rebuilt, and each
other frontier delta has its inserts added, all inside the operation's
transaction.
"""

from __future__ import annotations

import functools
import time
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from playwrightcrawler_spark import config
from playwrightcrawler_spark.functions import routing, sniff, sqlfns, udfs
from playwrightcrawler_spark.operators import frontier as fr
from playwrightcrawler_spark.operators import seen
from playwrightcrawler_spark.sources.tables import Lakehouse, with_host_salt

_BASE_TS = datetime(2025, 6, 1, tzinfo=timezone.utc)

DROP_REASONS = [
    "invalid", "embedded", "too_long", "no_host", "blocked_host",
    "not_allowed", "blocked_url", "repeated_segments",
]

import pyarrow as _pa

_METRICS_SCHEMA = _pa.schema([
    ("wave", _pa.int32()),
    ("scope", _pa.string()),
    ("metric", _pa.string()),
    ("value", _pa.int64()),
    ("method", _pa.string()),
    ("node_id", _pa.string()),
    ("committed_at", _pa.timestamp("us", tz="UTC")),
])

FRONTIER_COLS = [
    "url", "url_hash", "host", "host_salt", "depth", "score",
    "visited", "discovered_at", "wave",
]


import logging

_LOG = logging.getLogger(__name__)


def _obs_get(obs: Observation, defaults: dict) -> dict:
    """Observation.get, tolerating elided metrics: AQE can prune the
    CollectMetrics node of an empty join branch, and reading it then
    fails. Empty input means every counter is 0, exactly ``defaults``;
    the failure is logged so a genuine Observation bug can't hide."""
    try:
        got = obs.get
        return {**defaults, **got} if got else dict(defaults)
    except Exception as e:
        _LOG.warning(
            "observation read failed (%s: %s); wave counters default to 0",
            type(e).__name__, e,
        )
        return dict(defaults)


def _wave_ts(wave: int):
    """Deterministic timestamps: reruns produce identical tables."""
    return _BASE_TS + timedelta(hours=wave)


def _atomic(op):
    """Run the engine operation ``op`` as one lakehouse transaction: the
    table commits it makes are published together when it returns, or not
    at all if it raises, so a kill anywhere resumes from the last whole
    operation. A nested operation (``ingest`` → ``bootstrap``) joins the
    outer one."""

    @functools.wraps(op)
    def run(self, *args, **kwargs):
        with self.lake.transaction():
            return op(self, *args, **kwargs)

    return run


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        warehouse: str,
        wave_size: int = 1000,
        per_host_quota: int = config.PER_HOST_WAVE_QUOTA,
        seed: int = 42,
        method_weights: dict | None = None,
        hunt_open_directories: bool = config.HUNT_OPEN_DIRECTORIES,
        robots_rules: DataFrame | None = None,
        bucket_lineage: bool = True,
        use_bloom: bool = False,
        bloom_items_per_bucket: int = config.BLOOM_ITEMS_PER_BUCKET,
        compact_every: int = 16,
        compact_flip_rows: int = config.COMPACT_FLIP_ROWS,
        extract_raw_webcontent: bool = config.EXTRACT_RAW_WEBCONTENT,
    ):
        self.spark = spark
        self.pages_path = pages_path
        self.lake = Lakehouse(warehouse)
        self.wave_size = wave_size
        self.quota = per_host_quota
        self.seed = seed
        self.method_weights = method_weights or config.METHOD_WEIGHTS
        self.hunt = hunt_open_directories
        if isinstance(robots_rules, str) and robots_rules == "pages":
            # north_rule robots compliance sourced from the corpus itself:
            # parse every /robots.txt row in the pages table once; the
            # result is host-count-sized, cached, and broadcast per wave
            from playwrightcrawler_spark.functions import robotstxt

            robots_rules = robotstxt.build_robots_rules(spark.read.parquet(pages_path))
        # one rules row per host (a host may serve robots.txt over http and
        # https): the wave's left join would otherwise duplicate its rows
        self.robots = None if robots_rules is None else robots_rules.groupBy("host").agg(
            F.array_distinct(F.flatten(F.collect_list("disallow_prefixes")))
            .alias("disallow_prefixes"),
            F.max("crawl_delay_ms").alias("crawl_delay_ms"),
        ).cache()
        # write the per-salt-bucket links_new rows (A5/A6); they are counted
        # either way, by the insert write's Observation
        self.bucket_lineage = bucket_lineage
        # Bloom seen-set pre-filter (north_rule). Off by default in the
        # sandbox: the exact anti-join is cheaper below ~10^7 frontier rows
        # (BENCH notes); at cluster scale this flag is the difference
        # between scanning and SHUFFLING a 10^10-row table per wave.
        self.bloom = seen.BloomSidecar(self.lake, bloom_items_per_bucket) if use_bloom else None
        # fold MoR deltas into a fresh base every K commits, or once the
        # flip rows (read()'s merge-join side) pass compact_flip_rows: at
        # wave_size 10^7 a count cadence alone outgrows any broadcast
        self.compact_every = compact_every
        self.compact_flip_rows = compact_flip_rows
        # raw_webcontent column (reference EXTRACT_RAW_WEBCONTENT,
        # config.py:128, truncation playwrightcrawler.py:3437): stored for
        # html rows only; default off matches the reference. Must stay
        # constant per warehouse (delta-table schema stability).
        self.extract_raw = extract_raw_webcontent
        # wave-membership pruning: a pages table hive-partitioned by
        # pmod(xxhash64(url), N) carries a marker with N; a wave pushes its
        # buckets into the scan as a PartitionFilter and reads
        # min(wave_size, N)/N of the files. None → unbucketed, full scan.
        from playwrightcrawler_spark.sources import pages_gen as _pg

        self._url_buckets = _pg.read_bucket_marker(spark, pages_path)
        # seed-folder files this engine has ingested (``run(seed_folder=)``)
        self._seed_files: set[str] = set()

    # ------------------------------------------------------------------ util
    def _pages(self) -> DataFrame:
        """The pages table, read with the input contract's schema
        (BASELINE.json input_hint) plus the bucket partition column when
        the table has one, so planning the scan launches no
        schema-inference job."""
        schema = "url string, html binary" + (", url_bucket int" if self._url_buckets else "")
        return self.spark.read.schema(schema).parquet(self.pages_path)

    def _pages_for_wave(self, wave_df: DataFrame) -> DataFrame:
        """The pages scan for ONE wave. On a bucketed table, collect the
        wave's distinct url_bucket values (<= min(wave_size, N) ints, one
        tiny job on the already-cached wave frame) and push them as a
        partition predicate — Catalyst turns isin on a hive partition
        column into file-level PartitionFilters, asserted in
        tests/test_plans.py::test_bucketed_pages_wave_scan_prunes."""
        if not self._url_buckets:
            return self._pages()
        buckets = [r[0] for r in wave_df.select(
            F.pmod(F.xxhash64("url"), F.lit(self._url_buckets)).cast("int").alias("b")
        ).distinct().collect()]
        return self._pages().filter(F.col("url_bucket").isin(buckets)).select("url", "html")

    @staticmethod
    def _frontier_rows(links: DataFrame, wave: int) -> DataFrame:
        """Hashed links (``_hashed_links``) → unvisited frontier rows
        discovered in ``wave``."""
        return links.withColumn("visited", F.lit(False)).withColumns(dict(
            url_hash=sqlfns.url_hash(F.col("url")),
            depth=F.col("depth").cast("int"),
            score=(F.lit(1.0) / (F.lit(1.0) + F.col("depth"))).cast("double"),
            discovered_at=F.lit(_wave_ts(wave)),
            wave=F.lit(wave).cast("int"),
        )).select(*FRONTIER_COLS)

    # ------------------------------------------------- link hygiene pipeline
    @staticmethod
    def _classify_links(links: DataFrame) -> DataFrame:
        """P4-P10 hygiene with a ``drop_reason`` column (NULL = keep), all
        JVM-side. Input: ``udfs.LINK_TYPE`` columns (raw, url = its
        sanitize_url form, repeated) + depth, as the extraction UDF or
        ``udfs.seed_link`` computed them; output: (url, depth, host,
        drop_reason).

        Check ORDER matches the reference (preprocess_crawler_data,
        playwrightcrawler.py:1846-1855): embedded-scheme and length caps
        apply to the RAW url BEFORE sanitize_url — a >4096-char raw link
        that would sanitize under the cap is still dropped, and the
        drop_reason accounting reads the same column the predicate used."""
        return (
            links.withColumn("host", sqlfns.host_of(F.col("url")))
            .withColumn(
                "drop_reason",
                F.coalesce(
                    F.when(sqlfns.is_embedded(F.col("raw")), "embedded")
                    .when(~sqlfns.length_ok(F.col("raw")), "too_long"),
                    F.when(F.col("url") == "", "invalid")
                    .when(F.col("host").isNull() | (F.col("host") == ""), "no_host")
                    .when(sqlfns.host_block_listed(F.col("host")), "blocked_host")
                    .when(~sqlfns.host_allow_listed(F.col("host")), "not_allowed")
                    .when(sqlfns.url_block_listed(F.col("url")), "blocked_url")
                    .when(
                        sqlfns.repeated_segments_prefilter(F.col("url"))
                        & F.col("repeated"),
                        "repeated_segments",
                    ),
                ),
            )
            .drop("raw", "repeated")
        )

    @staticmethod
    def _page_links(html_pages: DataFrame) -> DataFrame:
        """Extracted pages → one row per discovered web link: the
        ``udfs.LINK_TYPE`` columns + depth (parent depth + 1)."""
        return html_pages.select(
            F.explode("links").alias("_l"), (F.col("depth") + 1).alias("depth")
        ).select("_l.*", "depth")

    @staticmethod
    def _dedupe_links(flagged: DataFrame, obs: Observation | None = None) -> DataFrame:
        """J4 set semantics: keep clean rows, smallest depth per URL. The
        same aggregation counts every link (``links_seen``) and each drop
        reason (``drop_<reason>``) into ``obs`` when given.

        Dropped rows group under a NULL key instead of being filtered out
        first, so the shuffle below the metrics node is empty only when
        there is no link at all. AQE prunes an Observation that sits inside
        a query stage it finds empty; with the filter first, Catalyst
        pushed the seen-set anti-join below this aggregation, and a wave
        whose links were all known lost its counters with that branch."""
        kept = F.col("drop_reason").isNull()
        counts = {
            "links_seen": F.count(F.lit(1)),
            **{f"drop_{r}": F.count(F.when(F.col("drop_reason") == r, 1)) for r in DROP_REASONS},
        }
        grouped = flagged.groupBy(
            F.when(kept, F.col("url")).alias("url"),
            F.when(kept, F.col("host")).alias("host"),
        ).agg(F.min("depth").alias("depth"), *[c.alias(n) for n, c in counts.items()])
        if obs is not None:
            grouped = grouped.observe(
                obs, *[F.coalesce(F.sum(n), F.lit(0)).alias(n) for n in counts]
            )
        return grouped.filter(F.col("url").isNotNull()).drop(*counts)

    @classmethod
    def _hashed_links(cls, links: DataFrame, obs: Observation | None = None) -> DataFrame:
        """The link stage's front half: hygiene → ``_dedupe_links`` (counters
        into ``obs``) → ``host_salt`` + ``url_hash``."""
        return with_host_salt(
            cls._dedupe_links(cls._classify_links(links), obs),
            buckets=config.HOST_SALT_BUCKETS,
        ).withColumn("url_hash", sqlfns.url_hash(F.col("url")))

    @staticmethod
    def _url_links(urls: DataFrame) -> DataFrame:
        """A DataFrame's ``url`` column → link rows at depth 0, the shape
        ``_page_links`` gives discovered links. A generator's output is not
        an alias of the UDF call, so a filter on the link columns (the url
        filter of ``_dedupe_links``, the drop_reason filter of the streaming
        ``clean_links``) cannot be pushed below it and copy the UDF:
        seed_link runs once per URL."""
        return urls.select(
            F.inline(F.array(udfs.seed_link(F.col("url")))), F.lit(0).alias("depth"))

    def _seed_links(self, urls: DataFrame | list[str]) -> DataFrame:
        """Seed URLs (a list, or a DataFrame with a ``url`` column) → link
        rows (``_url_links``)."""
        if not isinstance(urls, DataFrame):
            urls = self.spark.createDataFrame([(u,) for u in urls], "url string")
        return self._url_links(urls)

    # ------------------------------------------------------------- bootstrap
    @_atomic
    def bootstrap(self, seed_urls: DataFrame | list[str]) -> int:
        """S5: seed ingestion → frontier v1 (same hygiene as links). Accepts
        a DataFrame so a 10^8-line seed folder never touches the driver."""
        rows = self._frontier_rows(
            self._hashed_links(self._seed_links(seed_urls)), wave=0
        ).dropDuplicates(["url_hash"])
        self.lake.frontier.write(rows, meta={"wave": 0, "op": "bootstrap"})
        if self.bloom:
            self.bloom.rebuild(self.spark)
        return self.lake.frontier.key_rows()

    @_atomic
    def ingest(self, seed_urls: DataFrame | list[str]) -> int:
        """S5 on a LIVE crawl (reference process_input_url_files runs
        continuously): seed URLs enter the existing frontier through the
        wave's link stage (``_commit_links`` with nothing consumed) — the
        seen-set anti-join keeps known URLs as they are, and a batch of only
        known URLs commits nothing. Falls back to bootstrap when the
        frontier doesn't exist yet. Returns the number of new rows."""
        if not self.lake.frontier.exists():
            return self.bootstrap(seed_urls)
        wave = self.last_committed_wave() + 1
        _, link_stats, _ = self._commit_links(
            self._seed_links(seed_urls), None, wave, meta={"op": "ingest"})
        return link_stats["links_new"]

    # ----------------------------------------------------------- wave stages
    def _robots_step(self, selected: DataFrame) -> tuple[DataFrame, int, int]:
        """Robots + crawl-delay politeness over a selection of frontier rows
        (url, url_hash, host, depth, discovered_at). Returns the selection,
        cached, with a ``_denied`` flag — every row in it is consumed by
        the frontier commit — and the counts of denied and allowed rows,
        from ONE aggregate action."""
        if self.robots is not None:
            # north_rule: broadcast the (tiny) robots table. Disallowed rows
            # are NOT crawled but ARE consumed (visited-flipped by the
            # frontier commit) — otherwise the same denied rows win the
            # selection every wave and a fully-denied wave would masquerade
            # as frontier-exhausted.
            selected = (
                selected.join(F.broadcast(self.robots), on="host", how="left")
                .withColumn(
                    "_denied",
                    F.exists(
                        F.coalesce("disallow_prefixes", F.array()),
                        lambda p: sqlfns.path_of(F.col("url")).startswith(p),
                    ),
                )
            )
            # crawl_delay_ms (north_rule politeness): a host that asks for a
            # delay gets one URL per wave whatever the quota. Overflow rows
            # are DEFERRED (stay unvisited), unlike robots-denied rows,
            # which are consumed. The slot rank counts NON-DENIED rows only,
            # so a denied row can't take the slot of a crawlable URL.
            w_delay = Window.partitionBy("host").orderBy("discovered_at", "url")
            allowed_rank = F.sum(
                F.when(F.col("_denied"), 0).otherwise(1)
            ).over(w_delay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            selected = (
                selected.withColumn(
                    "_deferred",
                    (~F.col("_denied"))
                    & (F.coalesce(F.col("crawl_delay_ms"), F.lit(0)).cast("long") > 0)
                    & (allowed_rank > 1),
                )
                .filter(~F.col("_deferred"))
                .drop("_deferred", "disallow_prefixes", "crawl_delay_ms")
            )
        else:
            selected = selected.withColumn("_denied", F.lit(False))
        selected = selected.cache()
        sel_counts = {
            bool(r["_denied"]): r["n"]
            for r in selected.groupBy("_denied").agg(F.count("*").alias("n")).collect()
        }
        return selected, sel_counts.get(True, 0), sel_counts.get(False, 0)

    def _npart(self, urls_selected: int) -> int:
        """Partition target for the wave-sized frames: enough slices to use
        the cores, never hundreds of near-empty python-UDF tasks."""
        return max(1, min(
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            urls_selected // 128 + 1,
        ))

    def _fused_fetch_extract(self, wave_df: DataFrame) -> DataFrame:
        """The wave hot path, unexecuted: broadcast the (small) wave against
        the pages table and run sniff → route → extraction inside the scan
        stage itself — one pages scan, zero shuffles, one Arrow crossing
        (html routes only), payload bytes dropped unless a downstream route
        consumes them. A named method so plan audits can assert the
        physical shape (BroadcastHashJoin, no Exchange, ArrowEvalPython
        only) without running a wave; the caller caches the result.

        INNER join (either side buildable; a left-outer can't broadcast its
        preserved side): dead links are recovered by a tiny anti-join of
        the wave against the fetched urls (``_build_crawled``), so the
        10^10-row pages table is scanned once and NEVER shuffled.
        Extracting from a cache of the joined html instead tripled the byte
        traffic and quantized extraction into shuffle.partitions coarse
        tasks; parallelism comes from SCAN SPLITS (session.py sizes
        maxPartitionBytes), which pack evenly at any core count."""
        fetched = (
            self._pages_for_wave(wave_df).join(F.broadcast(wave_df), on="url", how="inner")
            .withColumn("file_extension", sqlfns.file_extension(sqlfns.path_of(F.col("url"))))
            .withColumn("content_type", sniff.sniff_content_type(F.col("html"), F.col("file_extension")))
            .withColumn("route", routing.route_col(routing.sanitize_content_type_col(F.col("content_type"))))
            .withColumn("_exhtml", F.when(
                F.col("route").isin("html", "plain_text"), F.col("html")))
        )
        if self.extract_raw:
            # Reference gates raw_webcontent on is_html_content
            # (playwrightcrawler.py:5150-5153); its plain-text handler records
            # none — so guard on route, not on the widened _exhtml (which also
            # carries plain_text bytes for the fused extraction UDF).
            fetched = fetched.withColumn(
                "raw_webcontent",
                F.substring(
                    sniff.decode_utf8_replace(
                        F.when(F.col("route") == "html", F.col("_exhtml"))
                    ),
                    1, config.MAX_WEBCONTENT_SIZE,
                ),
            )
        return (
            udfs.with_extraction(fetched, html_col="_exhtml", url_col="url",
                                 route_col="route")
            # plain-text decode rides the same Arrow crossing (route-aware
            # UDF), so NO route's payload bytes survive into the cache —
            # the commit stage downstream is pure JVM column work
            .drop("_exhtml", "html")
        )

    def _append_crawled(self, fetched: DataFrame, wave_df: DataFrame, wave: int,
                        urls_selected: int, meta: dict, **counters) -> tuple[int, dict]:
        """Crawled commit: the wave's A4 rows (``_build_crawled``) appended
        as one delta, with ``counters`` (name → aggregate column) riding
        the write as an Observation. Returns (version, counter values)."""
        obs = Observation()
        crawled_all = self._build_crawled(fetched, wave_df, wave).observe(
            obs, *[c.alias(n) for n, c in counters.items()]
        )
        # Bounded coalesce before the commit: writing straight from the
        # cache partitions launched ~481 tasks at bench shape, each
        # re-deserializing the wave's large plan (~36 core-s against ~21 of
        # work). ~WRITE_TASK_ROWS rows per task cuts that ~10× and keeps
        # each task's dynamic-partition sort buffer bounded at any core
        # count (coalescing to core width blew execution memory). At least
        # npart tasks, rounded UP to a multiple of it: 41 tasks on 32 slots
        # idle 23 slots in the tail.
        npart = self._npart(urls_selected)
        n_write = npart * max(1, -(-urls_selected // (config.WRITE_TASK_ROWS * npart)))
        version = self.lake.crawled.append(
            self.spark, crawled_all.coalesce(n_write), meta=meta)
        return version, _obs_get(obs, dict.fromkeys(counters, 0))

    def _commit_links(self, web_links: DataFrame, selected: DataFrame | None, wave: int,
                      meta: dict) -> tuple[int | None, dict, list]:
        """Links → hygiene → seen-set anti-join → ONE O(wave) MoR frontier
        commit, then compaction on cadence or a Bloom update. The one way
        rows enter an existing frontier: discovered links of a wave, live
        seeds (``ingest``) and streamed links. ``selected`` is every
        consumed row (allowed ∪ robots-denied), so denied rows can never win
        a later selection; None (ingestion) consumes nothing, and then a
        commit with no new row publishes no frontier version (None) and no
        Bloom increment. Returns (frontier version, link counters with
        ``links_new``, per-salt-bucket lineage rows (A5/A6): the non-zero
        buckets, with bucket lineage on)."""
        spark = self.spark
        obs_links, obs_insert = Observation(), Observation()
        # J1/J5 seen-set membership. With the Bloom the frontier is only
        # SCANNED (bloom negatives bypass it; positives broadcast-confirm);
        # without, the exact anti-join (right side = frontier) is cheaper
        # at sub-10^7 frontier sizes.
        hashed = self._hashed_links(web_links, obs_links)
        # read_keys, not the MoR view: flips never add url_hashes, so the
        # seen-set is base ∪ insert-deltas — skipping the flip join removes
        # a per-wave aggregation + broadcast build from the commit path
        new_links = seen.anti_join_seen(
            hashed, self.lake.frontier.read_keys(spark), spark,
            blooms=self.bloom.rows(spark) if self.bloom else None,
        )
        # links_new per salt bucket rides the insert write as an Observation
        buckets = [f"bucket:{b}" for b in range(config.HOST_SALT_BUCKETS)]
        insert_rows = self._frontier_rows(new_links, wave).observe(obs_insert, *[
            F.count(F.when(F.col("host_salt") == b, 1)).alias(name)
            for b, name in enumerate(buckets)
        ])

        # O(wave) MoR commit (north_rule checkpoint/lineage): the increments
        # are the wave's inserts + (url_hash, wave) visited-flips for every
        # consumed row. The frontier table itself is never rewritten here —
        # read() applies flips as a broadcast join, and a compaction folds
        # deltas into a fresh base every K waves.
        flips = None if selected is None else (
            selected.select("url_hash").withColumn("wave", F.lit(wave).cast("int")))
        frontier_version = self.lake.frontier.commit_wave(
            inserts=insert_rows, flips=flips, meta=meta)
        if frontier_version is None:
            pass  # nothing new: no version, no Bloom increment
        elif (
            self.lake.frontier.deltas_since_base() >= self.compact_every
            or self.lake.frontier.flip_rows_since_base() >= self.compact_flip_rows
        ):
            # an ingest carries no wave: its compaction must not mark the
            # wave it precedes committed (last_committed_wave)
            self.lake.frontier.compact(spark, meta=meta)
            if self.bloom:
                self.bloom.rebuild(spark)
        elif self.bloom:
            self.bloom.add(spark, frontier_version)
        link_stats = _obs_get(
            obs_links,
            {"links_seen": 0, **{f"drop_{r}": 0 for r in DROP_REASONS}},
        )
        per_bucket = _obs_get(obs_insert, dict.fromkeys(buckets, 0))
        link_stats["links_new"] = sum(int(v) for v in per_bucket.values())
        bucket_rows = [
            (wave, b, "links_new", int(per_bucket[b]))
            for b in buckets if self.bucket_lineage and per_bucket[b]
        ]
        return frontier_version, link_stats, bucket_rows

    def _write_metrics(self, rows, method: str, meta: dict) -> None:
        """(wave, scope, metric, value) rows → wave_metrics. Metrics are
        driver-resident counters: write them driver-side (pyarrow) instead
        of paying a Spark job for ~50 rows."""
        now = datetime.now(timezone.utc)
        self.lake.wave_metrics.write_rows(
            [
                {"wave": w, "scope": sc, "metric": m, "value": v,
                 "method": method, "node_id": config.NODE_ID, "committed_at": now}
                for (w, sc, m, v) in rows
            ],
            _METRICS_SCHEMA, meta=meta,
        )

    # ------------------------------------------------------------ one crawl
    def _crawl(self, meta: dict, select, hunt: bool) -> dict:
        """The one crawl body of a wave and of the fast-extension pass.
        ``select`` maps the unvisited frontier to ``(method, selection)``;
        the selection then runs the robots step, the fused fetch+extract and
        the two commits at once, into the operation's one transaction
        (``Manifest.concurrently``): the crawled append on a second driver
        thread beside the link → seen-set → frontier commit on this one.
        ``hunt`` adds open-directory hunting (P16) to the discovered links.
        Every crawl writes the same metric set under scope ``meta["op"]``
        (default "wave"), rows told apart by ``method``, and returns it
        with ``meta``, the table versions, ``seconds`` and ``timings``."""
        wave = meta["wave"]
        t0 = since = time.time()
        tmarks = {}

        def mark(label):
            nonlocal since
            now = time.time()
            tmarks[label], since = round(now - since, 2), now

        def timed(label, fn):
            # the two commits overlap: each times its own branch
            def run():
                t = time.time()
                try:
                    return fn()
                finally:
                    tmarks[label] = round(time.time() - t, 2)
            return run

        method, selected = select(self.lake.frontier.read(self.spark).filter(~F.col("visited")))
        # ACTION 1: one aggregate gives the denied/allowed split
        selected, robots_denied, urls_selected = self._robots_step(
            selected.select("url", "url_hash", "host", "depth", "discovered_at")
        )
        mark("t_select")
        if robots_denied + urls_selected == 0:
            # terminal ONLY when the pre-robots selection is empty — a crawl
            # in which every selected URL is robots-denied still progresses
            # (the denied rows are flipped visited via `selected`)
            selected.unpersist()
            return {**meta, "method": method, "urls_selected": 0, "done": True}
        wave_df = selected.filter(~F.col("_denied")).drop("_denied")
        npart = self._npart(urls_selected)

        # ---- fetch+extract, ONE PASS inside the pages scan stage
        fetched = self._fused_fetch_extract(wave_df).cache()
        mark("t_fetch")
        # ACTION 2: populate the cache once — every downstream consumer
        # (missing anti-join, crawled write, email branch, link pipeline)
        # reads extraction RESULTS from the InMemoryRelation; without the
        # explicit materialization AQE submits their query stages
        # concurrently and each recomputes the scan+extract pipeline.
        fetched.count()
        mark("t_extract")

        # ---- discovered links → hygiene → anti-join → frontier commit.
        # The extraction UDF already resolved, split off mailto and
        # sanitized every href, so the link pipeline reads the cache only.
        web_links = self._page_links(fetched.filter(F.col("route") == "html")).coalesce(npart)
        if hunt:
            # P16: content URLs and links contribute parent-directory chains
            # (reference preprocess :1837-1845)
            def tree_of(df, url_col):
                return df.select(
                    F.explode(udfs.directory_tree_links(F.col(url_col))).alias("_l"),
                    (F.col("depth") + 1).alias("depth"),
                ).select("_l.*", "depth")

            guarded = web_links.filter(
                sqlfns.length_ok(F.col("raw")) & ~sqlfns.is_embedded(F.col("raw"))
            )
            web_links = (
                web_links
                .unionByName(tree_of(wave_df, "url"))
                .unionByName(tree_of(guarded, "raw"))
            )
        # ACTIONS 3 and 4 at once: the crawled rows (A4 schema, reference
        # §1.1b) beside the frontier commit (two O(wave) writes); each waits
        # for the other, on success or failure, and the first failure raises
        (frontier_version, link_stats, bucket_rows), (crawled_version, crawl_stats) = (
            self.lake.manifest.concurrently(
                timed("t_frontier", lambda: self._commit_links(web_links, selected, wave, meta)),
                timed("t_crawled", lambda: self._append_crawled(
                    fetched, wave_df, wave, urls_selected, meta,
                    fetched_ok=F.count(F.when(
                        (F.col("route") != "missing") & (F.col("route") != "email"), 1)),
                    emails=F.count(F.when(F.col("route") == "email", 1)),
                    ext_consistent=F.count(F.when(F.col("ext_consistent"), 1)),
                )),
            ))
        since = time.time()

        # ---- metrics + per-bucket lineage (A5/A6), all from Observations
        fetched_ok = int(crawl_stats["fetched_ok"])
        counts = {
            "urls_selected": urls_selected,
            "robots_denied": robots_denied,
            "urls_fetched": fetched_ok,
            "pages_missing": urls_selected - fetched_ok,
            "emails": int(crawl_stats["emails"]),
            "ext_consistent": int(crawl_stats["ext_consistent"]),
            "links_seen": int(link_stats["links_seen"]),
            "links_new": link_stats["links_new"],
        }
        drop_rows = [
            (wave, f"drop:{r}", "links_dropped", int(link_stats[f"drop_{r}"]))
            for r in DROP_REASONS
            if link_stats[f"drop_{r}"]
        ]
        mark("t_buckets")
        scope = meta.get("op", "wave")
        self._write_metrics(
            [(wave, scope, m, v) for m, v in counts.items()] + bucket_rows + drop_rows,
            method, meta=meta,
        )
        mark("t_metrics")

        selected.unpersist()
        fetched.unpersist()
        return {
            **meta,
            "method": method,
            **counts,
            "crawled_version": crawled_version,
            "frontier_version": frontier_version,
            "seconds": round(time.time() - t0, 2),
            "timings": tmarks,
            "done": False,
        }

    @_atomic
    def run_wave(self, wave: int) -> dict:
        """One crawl wave: the weighted frontier policy (``fr.weighted_select``,
        seeded per wave) selects, ``_crawl`` crawls, hunting open directories
        when the engine does. ``timings`` holds each phase's seconds:
        ``t_select``, ``t_fetch``, ``t_extract``, then ``t_crawled`` and
        ``t_frontier``, which overlap and so add up to more than
        ``seconds``, then ``t_buckets`` and ``t_metrics``."""
        return self._crawl(
            {"wave": wave},
            lambda candidates: fr.weighted_select(
                candidates,
                size=self.wave_size,
                seed=self.seed + wave,
                quota=self.quota,
                weights=self.method_weights,
            ),
            hunt=self.hunt,
        )

    # ------------------------------------------------- fast-extension pass
    @_atomic
    def run_fast_extension_pass(self, wave: int, size: int = 50_000) -> dict:
        """X7/X8 (reference run_fast_extension_pass :4596-4768 +
        fast_extension_crawler :4770-4902): a wave whose selector takes the
        oldest candidates whose URL carries a mapped file extension, run
        through the wave's own stages — robots + crawl-delay, fused
        fetch+extract, crawled commit, link → seen-set → frontier commit.
        Each crawled row records the extension↔route consistency verdict.
        Rows whose bytes match the extension carry no text and discover no
        links. Rows that SNIFF AS HTML despite a binary extension (a .png
        URL serving a page) get the full extraction + link discovery of
        the routed UDF, the reference's fallback to get_page on a
        content-type mismatch (:4826-4860). No open-directory hunting."""

        def select(candidates):
            cand = (
                candidates
                .withColumn("file_extension", sqlfns.file_extension(sqlfns.path_of(F.col("url"))))
                .withColumn("expected_route", routing.expected_route_for_extension_col(F.col("file_extension")))
                .filter(F.col("expected_route") != "")
            )
            sel = fr.per_host_quota(cand, F.col("discovered_at").asc(), self.quota)
            return "fast_extension", (
                fr.filter_blocked_hosts(sel).orderBy("discovered_at", "url").limit(size))

        return self._crawl({"wave": wave, "op": "fast_pass"}, select, hunt=False)

    # ------------------------------------------------------ cleanup pass
    @_atomic
    def run_cleanup_pass(self, wave: int, **flags) -> dict:
        """M1 between waves (reference cleanup_elasticsearch_indexes,
        playwrightcrawler.py:3557-3730): apply the enabled delete rules to
        the frontier in ONE scan and rewrite it as a fresh base — the
        Iceberg row-level DELETE analogue (inherently O(table), same as
        the reference's full index walk). Per-rule counters land in
        wave_metrics (A5). No-op (no commit) when nothing matches."""
        from playwrightcrawler_spark.operators import cleanup as cl

        kept, stats = cl.cleanup(self.lake.frontier.read(self.spark), **flags)
        counts = {r["drop_reason"]: int(r["deleted"]) for r in stats.collect()}
        deleted = sum(counts.values())
        if deleted:
            self.lake.frontier.write(kept.select(*FRONTIER_COLS), meta={"op": "cleanup"})
            if self.bloom:
                self.bloom.rebuild(self.spark)
            self._write_metrics(
                [(wave, f"cleanup:{rule}", "deleted", v) for rule, v in counts.items()],
                "cleanup", meta={"op": "cleanup"},
            )
        return {"wave": wave, "op": "cleanup", "deleted": deleted, "rules": counts}

    # ----------------------------------------------------- crawled assembly
    def _build_crawled(self, fetched: DataFrame, wave_df: DataFrame, wave: int) -> DataFrame:
        """A4-schema rows of one wave, JOIN-FREE: ``fetched`` (the cached
        ``_fused_fetch_extract`` output) already carries the extraction
        columns of both text routes, so fetched rows, dead links (the
        ``wave_df`` rows ``fetched`` lacks) and email records are three
        unions over a MINIMAL common shape — the obvious alternative (join
        text/words back onto fetched) shuffles 2× the wave's bytes. The
        enrichment projection is applied ONCE to the union so whole-stage
        codegen stays under the method-size limit. Pure JVM: no python
        node rides the commit stage, whose task count is the scan-split
        count."""
        missing = (
            wave_df.join(F.broadcast(fetched.select("url")), on="url", how="left_anti")
            .withColumn("file_extension", sqlfns.file_extension(sqlfns.path_of(F.col("url"))))
            .withColumn("content_type", F.lit(""))
            .withColumn("route", F.lit("missing"))
        )
        html_pages = fetched.filter(F.col("route") == "html")

        def shape(df, text_col, words_col, od_col, od_pat_col, source_col):
            cols = [
                F.col("url"),
                F.col("url").alias("enrich_url"),
                "content_type", "route", "file_extension", "depth",
                text_col.alias("text"),
                words_col.alias("words"),
                od_col.alias("isopendir"),
                od_pat_col.alias("opendir_pattern"),
                source_col.alias("source"),
                F.lit(None).cast("array<string>").alias("emails"),
                F.lit(None).cast("string").alias("parent_host"),
            ]
            if self.extract_raw:
                cols.append(
                    (F.col("raw_webcontent") if "raw_webcontent" in df.columns
                     else F.lit(None).cast("string")).alias("raw_webcontent")
                )
            return df.select(*cols)

        other_source = (
            F.when(F.col("route") == "plain_text", "content_type_plain_text")
            .when(F.col("route") == "image", "content_type_images_no_download")
            .otherwise(F.concat(F.lit("content_type_"), F.col("route")))
        )
        is_html = F.col("route") == "html"
        is_text = F.col("route").isin("html", "plain_text")
        rows = shape(
            fetched,
            F.when(is_text, F.col("text_extracted")).otherwise(F.lit(None).cast("string")),
            F.when(is_text, F.col("words")).otherwise(F.lit(None).cast("array<string>")),
            F.when(is_html, F.col("isopendir")).otherwise(F.lit(False)),
            F.when(is_html, F.col("opendir_pattern")).otherwise(F.lit("")),
            F.when(is_html, F.lit("content_type_download")).otherwise(other_source),
        )
        missing_rows = shape(
            missing,
            F.lit(None).cast("string"), F.lit(None).cast("array<string>"),
            F.lit(False), F.lit(""), F.lit("fetch_miss"),
        )
        email_extra = (
            [F.lit(None).cast("string").alias("raw_webcontent")]
            if self.extract_raw else []
        )
        # one email record per valid mailto link on an extracted html page
        email_rows = (
            html_pages.select(
                F.col("url").alias("parent_url"),
                F.col("host").alias("parent_host"),
                F.explode("emails").alias("email"),
            )
            .select(
                F.concat_ws("|", "parent_url", "email").alias("url"),
                F.col("parent_url").alias("enrich_url"),
                F.lit("").alias("content_type"),
                F.lit("email").alias("route"),
                F.lit("").alias("file_extension"),
                F.lit(None).cast("int").alias("depth"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("array<string>").alias("words"),
                F.lit(False).alias("isopendir"),
                F.lit("").alias("opendir_pattern"),
                F.lit("email_url").alias("source"),
                F.array(F.col("email")).alias("emails"),
                F.col("parent_host"),
                *email_extra,
            )
        )
        enrich = {
            k: v
            for k, v in sqlfns.enrichment_base_columns(F.col("enrich_url")).items()
            if k != "file_extension"  # page rows keep the fetch-time extension
        }
        rows = rows.unionByName(missing_rows).unionByName(email_rows)
        # extension↔route consistency (reference handle_content_type
        # :2794-2801 / fast_extension_crawler :4826-4829): NULL when the
        # page was never fetched, true when the extension is unmapped
        expected = routing.expected_route_for_extension_col(F.col("file_extension"))
        consistent = F.when(
            F.col("route") != "missing",
            (expected == "") | (expected == F.col("route")),
        )
        return (
            rows
            .withColumn("url_hash", sqlfns.url_hash(F.col("url")))
            .withColumn("visited", F.lit(True))
            .withColumn("ext_consistent", consistent)
            .withColumns(enrich)
            .withColumns(sqlfns.level_flatten_columns())
            .withColumn("wave", F.lit(wave).cast("int"))
            .withColumn("fetched_at", F.lit(_wave_ts(wave)))
            # S3 monthly routing: the writer partitions on this column
            .withColumn("month", F.date_format(F.lit(_wave_ts(wave)), "yyyy-MM"))
            .drop("enrich_url")
        )

    # ---------------------------------------------------------------- driver
    def last_committed_wave(self) -> int:
        waves = [v.get("wave", -1) for v in self.lake.frontier.versions()]
        return max(waves) if waves else -1

    def run(
        self,
        waves: int,
        seed_urls: DataFrame | list[str] | None = None,
        *,
        fast_pass_every: int = 0,
        cleanup_every: int = 0,
        cleanup_flags: dict | None = None,
        seed_folder: str | None = None,
    ) -> list[dict]:
        """X11/X12 + the maintenance phases. The reference splits phases
        across instance roles — instance 1 runs cleanup + seed-file
        ingestion, instance 2 runs dedup + the fast-extension pass, all
        instances crawl (playwrightcrawler.py:5384-5413, M2); one Spark
        driver sequences the same phases per iteration. Maintenance runs
        AFTER the wave's commit under the same wave number, so resume
        granularity stays one crawl wave (a kill between wave and
        maintenance only skips that maintenance round — it reruns next
        cycle)."""
        if not self.lake.frontier.exists():
            if seed_urls is None:
                raise ValueError("empty frontier and no seed_urls")
            self.bootstrap(seed_urls)
        start = self.last_committed_wave() + 1
        out = []
        for w in range(start, start + waves):
            if seed_folder:
                # S5 continuous ingestion (reference process_input_url_files):
                # each file once per engine, as Spark's file stream source
                from playwrightcrawler_spark.sources import seeds as seedsrc

                seedsrc.ingest_seeds(self, seed_folder, self._seed_files)
            m = self.run_wave(w)
            out.append(m)
            if m.get("done"):
                break
            if fast_pass_every and (w - start) % fast_pass_every == fast_pass_every - 1:
                out.append(self.run_fast_extension_pass(wave=w))
            if cleanup_every and (w - start) % cleanup_every == cleanup_every - 1:
                out.append(self.run_cleanup_pass(wave=w, **(cleanup_flags or {})))
        return out


if __name__ == "__main__":
    import argparse
    import tempfile

    from playwrightcrawler_spark.session import get_spark
    from playwrightcrawler_spark.sources import pages_gen

    ap = argparse.ArgumentParser(description="run crawl waves on the synthetic pages fixture")
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--wave-size", type=int, default=500)
    ap.add_argument("--pages", default=None, help="pages parquet (default: generate fixture)")
    ap.add_argument("--warehouse", default=None)
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="pwc_")
    pages = args.pages or f"{tmp}/pages.parquet"
    if args.pages is None:
        n = pages_gen.write_pages_fixture(pages)
        print(f"generated {n} fixture pages → {pages}")
    spark = get_spark(app_name="crawl-engine")
    eng = CrawlEngine(spark, pages, args.warehouse or f"{tmp}/warehouse",
                      wave_size=args.wave_size)
    for m in eng.run(args.waves, seed_urls=pages_gen.seed_urls()):
        print(m)
    print("tables:", eng.lake.describe())
    spark.stop()

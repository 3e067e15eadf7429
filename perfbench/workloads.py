"""The benchmark's workloads: one closed loop per run, driven from one
Python process at ``local[nproc]``.

Every workload runs the same three kinds of operation, because a user of
this repo waits on all three and every run reports every end-to-end
metric:

1. crawl waves (``CrawlEngine.run``) for ``--seconds`` seconds, one after
   another — the next wave starts when the previous one has committed;
2. a warehouse read pass over the warehouse those waves just wrote: every
   frontier selection policy over ``frontier.read`` and a scan of
   ``crawled`` (``crawl_extract``, whose frontier keeps its merge-on-read
   deltas), or the seen-set anti-join over a fixed candidate set and a
   scan of ``crawled`` (``crawl_discover``, Bloom on);
3. an analytics pass: the workload's part of the ``bench.HEADLINE`` query
   set over seeded star-schema/documents/embeddings tables.

There is no warm-up wave, and the untraced run makes one query pass: a
run has no time for more (see README.md). The traced run makes a second
pass, to check that every query returns the same digest twice.

The workloads differ in the pages they crawl and the engine settings
(``SHAPES``), so each stresses different layers; see README.md.
"""

from __future__ import annotations

import glob
import os
import random
import time
from dataclasses import dataclass, replace

import numpy as np
import pyarrow.parquet as pq

from bench import HEADLINE
from perfbench import gen, layers

# the analytics query set, bench.HEADLINE, split between the workloads so
# a run stays inside its time budget — text/dedup operators beside the
# extraction-heavy crawl, relational/frontier/seen/similarity queries and
# the md5 MinHash beside the discovery crawl
TEXT_QUERIES = (
    "topk_words", "exact_dedup", "minhash_lsh_pairs_xxh",
    "lang_id", "quality_scores", "token_counts",
)
RELATIONAL_QUERIES = tuple(q for q in HEADLINE if q not in TEXT_QUERIES)
POLICIES = ["fewest_urls", "host_prefix", "oldest", "priority", "random"]
FRONTIER_READS = tuple(f"wh_frontier_{p}" for p in POLICIES) + ("wh_crawled_scan",)
SEEN_READS = ("wh_anti_join_seen", "wh_crawled_scan")
READS = list(FRONTIER_READS[:-1] + SEEN_READS)
TRACED_QUERY_PASSES = 2  # the untraced run makes one
POLICY = "oldest"        # the crawl's frontier selection method


@dataclass(frozen=True)
class Shape:
    corpus: str               # "heavy" or "light"
    hosts: int
    pages_per_host: int
    n_files: int              # pages table files (= scan splits)
    wave_size: int
    quota: int                # per-host politeness quota per wave
    use_bloom: bool
    compact_every: int        # frontier compaction cadence, in waves
    reads: tuple[str, ...]    # warehouse read queries
    analytics: tuple[str, ...]  # this workload's part of bench.HEADLINE
    analytics_scale: float
    kernel_sample: int        # pages timed outside Spark (traced run)
    mega_hosts: int = 0
    mega_pages: int = 0
    seeds: int = 0            # light corpus: frontier seeds
    bloom_items: int = 2000


SHAPES = {
    # heavy pages, whole corpus bootstrapped: extraction + crawled commit;
    # no compaction inside the window, so reads see uncompacted MoR deltas
    "crawl_extract": Shape(
        corpus="heavy", hosts=50, pages_per_host=15, n_files=8,
        wave_size=250, quota=15, use_bloom=False, compact_every=16,
        reads=FRONTIER_READS, analytics=TEXT_QUERIES, analytics_scale=0.25,
        kernel_sample=24,
    ),
    # light link-dense pages grown from seeds: link pipeline, Bloom
    # seen-set, MoR commit and compaction (every wave, so each timed
    # wave is a whole compaction cycle)
    "crawl_discover": Shape(
        corpus="light", hosts=200, pages_per_host=15, n_files=8,
        wave_size=150, quota=4, use_bloom=True, compact_every=1,
        reads=SEEN_READS, analytics=RELATIONAL_QUERIES, analytics_scale=0.25,
        kernel_sample=200, mega_hosts=3, mega_pages=300, seeds=300,
    ),
}


def tiny(shape: Shape) -> Shape:
    """A seconds-long version of a shape, for the smoke tests."""
    return replace(
        shape, hosts=12, pages_per_host=5, n_files=2,
        wave_size=min(shape.wave_size, 20), analytics_scale=0.05, kernel_sample=4,
        mega_pages=min(shape.mega_pages, 20), seeds=min(shape.seeds, 6),
    )


# ----------------------------------------------------------------- inputs
class Inputs:
    """Generated pages table, frontier seeds, kernel sample, analytics
    tables and the fixed seen-set candidate list, all from the seed."""

    def __init__(self, shape: Shape, seed: int, work: str):
        self.pages = os.path.join(work, "pages")
        self.sf_dir = os.path.join(work, "sf")
        if shape.corpus == "heavy":
            rows = gen.heavy_page_rows(seed, shape.hosts, shape.pages_per_host)
            self.seed_urls = gen.heavy_urls(seed, shape.hosts, shape.pages_per_host)
        else:
            rows = gen.light_page_rows(
                seed, n_hosts=shape.hosts, pages_per_host=shape.pages_per_host,
                n_mega=shape.mega_hosts, mega_pages=shape.mega_pages,
            )
            self.seed_urls = gen.light_seed_urls(seed, shape.seeds, shape.hosts,
                                                 shape.mega_hosts)
        gen.write_rows(rows, self.pages, shape.n_files)
        rng = random.Random(seed)
        html_rows = [r for r in rows if r[2].startswith(b"<!DOCTYPE")]
        self.kernel_pages = [(r[0], r[2]) for r in rng.sample(html_rows, shape.kernel_sample)]
        # seen-set candidates: every corpus url plus as many unknown ones
        self.candidates = [r[0] for r in rows] + [
            f"https://unseen{i}.s{seed}.example/c{i}.html" for i in range(len(rows))
        ]
        gen.write_analytics_tables(self.sf_dir, seed, shape.analytics_scale)


# ---------------------------------------------------------------- queries
def digest(df) -> tuple[int, int]:
    """Row count and an order-insensitive digest of every column."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2**31 - 1))
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(r["n"]), int(r["s"] or 0)


def read_queries(eng, cands, shape: Shape, seed: int) -> dict:
    """Warehouse reads over the crawl warehouse: name -> query(spark)."""
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.operators import frontier as fr
    from playwrightcrawler_spark.operators import seen

    lake = eng.lake

    def policy(p):
        def build(spark):
            unvisited = lake.frontier.read(spark).filter(~F.col("visited"))
            return fr.METHODS[p](unvisited, shape.wave_size, seed, shape.quota)
        return build

    def anti_join(spark):
        blooms = lake.seen_bloom.read(spark).collect() if shape.use_bloom else None
        return seen.anti_join_seen(cands, lake.frontier.read_keys(spark), spark, blooms=blooms)

    def crawled_scan(spark):
        return lake.crawled.read(spark).groupBy("wave", "route").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("host").alias("hosts"),
            F.sum(F.length("text")).alias("text_chars"),
            F.sum(F.size("words")).alias("words"),
        )

    qs = {f"wh_frontier_{p}": policy(p) for p in POLICIES}
    qs.update(wh_anti_join_seen=anti_join, wh_crawled_scan=crawled_scan)
    return {name: qs[name] for name in shape.reads}


def analytics_queries(names, sf_dir: str) -> dict:
    from playwrightcrawler_spark.queries import QUERIES

    return {name: (lambda spark, q=QUERIES[name]: q(spark, sf_dir)) for name in names}


# ----------------------------------------------------------------- run
class Run:
    """One benchmark run: set-up, the timed crawl window, query passes,
    output checks and (traced) per-layer metrics."""

    def __init__(self, name: str, shape: Shape, seed: int, seconds: float,
                 trace: bool, work: str):
        self.name, self.shape, self.seed = name, shape, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.layer: dict[str, float] = {}

    def op(self, label: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(label)

    # -------------------------------------------------------- set-up
    def setup(self):
        from playwrightcrawler_spark.crawl.engine import CrawlEngine
        from playwrightcrawler_spark.session import get_spark
        from playwrightcrawler_spark.sources.tables import with_host_salt

        from pyspark.sql import functions as F

        s = self.shape
        t0 = time.perf_counter()
        nproc = os.cpu_count() or 1
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}", cores=nproc,
            shuffle_partitions=2 * nproc,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        t_jvm = time.perf_counter()
        self.inputs = Inputs(s, self.seed, self.work)
        t_gen = time.perf_counter()
        self.eng = CrawlEngine(
            self.spark, self.inputs.pages, os.path.join(self.work, "warehouse"),
            wave_size=s.wave_size, per_host_quota=s.quota, seed=self.seed,
            method_weights={POLICY: 1}, hunt_open_directories=False,
            bucket_lineage=False, use_bloom=s.use_bloom,
            bloom_items_per_bucket=s.bloom_items, compact_every=s.compact_every,
        )
        self.eng.bootstrap(self.inputs.seed_urls)
        t_boot = time.perf_counter()
        self.cands = None
        if "wh_anti_join_seen" in s.reads:
            self.cands = (
                with_host_salt(
                    self.spark.createDataFrame([(u,) for u in self.inputs.candidates], "url string")
                    .withColumn("host", F.expr("parse_url(url, 'HOST')")),
                )
                .withColumn("url_hash", F.xxhash64("url"))
                .select("url", "host_salt", "url_hash")
                .cache()
            )
            self.cands.count()
        t_end = time.perf_counter()
        self.detail["setup_parts_s"] = {
            "jvm": round(t_jvm - t0, 3), "generate": round(t_gen - t_jvm, 3),
            "bootstrap": round(t_boot - t_gen, 3), "candidates": round(t_end - t_boot, 3),
        }
        return t_end - t0

    # -------------------------------------------------------- timed crawl
    def crawl(self) -> list[dict]:
        """Closed loop: waves until ``seconds`` have passed. Each wave is a
        whole compaction cycle (``crawl_discover`` compacts every wave,
        ``crawl_extract`` not within any practical window), so the window
        never splits a cycle."""
        waves, t_start = [], time.perf_counter()
        while time.perf_counter() - t_start < self.seconds:
            rec = self.one_wave()
            if rec is None:
                break
            waves.append(rec)
        return waves

    def one_wave(self) -> dict | None:
        pre = self.tracer.before_wave() if self.tracer else None
        cpu0 = layers.cpu_snapshot()
        t0 = time.perf_counter()
        try:
            m = self.eng.run(1)[0]
        except Exception as e:  # a failed wave is a failed operation
            self.op(f"wave: {type(e).__name__}: {e}"[:300], False)
            return None
        wall = time.perf_counter() - t0
        cpu1 = layers.cpu_snapshot()
        if m.get("done"):
            # frontier exhausted: the corpus is sized so this does not
            # happen at today's speed; a faster engine just stops early
            self.detail["frontier_exhausted"] = True
            return None
        self.op("wave", True)
        rec = {
            "wave": m["wave"], "wall_s": wall, "urls": m["urls_fetched"],
            "selected": m["urls_selected"], "links_seen": m["links_seen"],
            "links_new": m["links_new"], "timings": m["timings"],
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        }
        if self.tracer:
            self.tracer.after_wave(rec, pre)
        return rec

    # -------------------------------------------------------- query passes
    def query_pass(self, queries: dict, label: str, per: dict) -> float:
        """One pass over ``queries``; appends each query's time and digest
        to ``per`` and returns the pass wall time."""
        total = 0.0
        for name, query in queries.items():
            rec = per.setdefault(name, {"s": [], "digest": []})
            t0 = time.perf_counter()
            try:
                d = digest(query(self.spark))
            except Exception as e:  # a failed query is a failed operation
                self.op(f"{label} {name}: {type(e).__name__}: {e}"[:300], False)
                continue
            dt = time.perf_counter() - t0
            self.op(f"{label} {name}", True)
            total += dt
            rec["s"].append(dt)
            rec["digest"].append(d)
        return total

    # -------------------------------------------------------- main
    def execute(self) -> dict:
        try:
            return self._execute()
        finally:
            if self.spark is not None:
                layers.stop_spark(self.spark)

    def _execute(self) -> dict:
        from perfbench import checks

        rss = layers.RssSampler()
        with rss:
            setup_s = self.setup()
            if self.trace:
                self.tracer = WaveTracer(self)
            waves = self.crawl()
            if self.tracer:
                self.tracer.restore()
            # reads and analytics interleaved: in the traced run's two
            # passes a burst of host load lands in one pass of a query
            reads = read_queries(self.eng, self.cands, self.shape, self.seed)
            ana = analytics_queries(self.shape.analytics, self.inputs.sf_dir)
            read_per: dict = {}
            ana_per: dict = {}
            read_totals, ana_totals = [], []
            passes = TRACED_QUERY_PASSES if self.trace else 1
            for _ in range(passes):
                read_totals.append(self.query_pass(reads, "read", read_per))
                ana_totals.append(self.query_pass(ana, "analytics", ana_per))
            if passes > 1:
                for name, rec in {**read_per, **ana_per}.items():
                    self.op(f"digest {name}",
                            len(rec["digest"]) == passes and len(set(rec["digest"])) == 1)
            t_check = time.perf_counter()
            try:
                check = checks.crawl_checks(self, waves)
            except Exception as e:  # e.g. no wave committed: nothing to check
                self.op(f"checks: {type(e).__name__}: {e}"[:300], False)
                check = {"ok": {}, "links_bench": 0, "links_engine": 0}
            self.detail["checks_s"] = round(time.perf_counter() - t_check, 3)
            for label, ok in check["ok"].items():
                self.op(f"check {label}", ok)
            if self.tracer:
                self.layer.update(self.tracer.summary(waves, check))
                self.layer.update(query_layers(
                    self.spark, {**reads, **ana}, {**read_per, **ana_per}))
                self.layer.update(layers.kernel_profile(self.inputs.kernel_pages))
                self.layer["kernel.extract_share"] = kernel_share(self.layer, waves, self.tracer)
        if self.tracer:
            self.layer["proc.jvm_rss_mb"] = rss.peak["jvm"]
            self.layer["proc.pyworker_rss_mb"] = rss.peak["py"]
        if not waves:
            self.op("no timed wave completed", False)
        urls = sum(w["urls"] for w in waves)
        wall = sum(w["wall_s"] for w in waves)
        cpu = sum(layers.cpu_total(w["cpu"]) for w in waves)
        self.detail.update(
            waves=len(waves), urls=urls, wave_s=[round(w["wall_s"], 3) for w in waves],
            wave_numbers=[w["wave"] for w in waves],
            read_pass_s=[round(x, 3) for x in read_totals],
            analytics_pass_s=[round(x, 3) for x in ana_totals],
            query_s={n: [round(x, 3) for x in rec["s"]] for n, rec in {**read_per, **ana_per}.items()},
            links_seen_engine=check["links_engine"], links_seen_bench=check["links_bench"],
            python_procs_max=rss.max_py_procs, failures=self.failures[:20],
        )
        return {
            "crawl_urls_per_s": urls / wall if wall else 0.0,
            "wave_s_p50": layers.median([w["wall_s"] for w in waves]),
            "cpu_ms_per_url": 1e3 * cpu / urls if urls else 0.0,
            "analytics_pass_s": best_pass(ana_per),
            "warehouse_read_pass_s": best_pass(read_per),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak["total"],
            "ops_ok_frac": (self.attempted - self.failed) / max(1, self.attempted),
        }


def best_pass(per: dict) -> float:
    """A pass made of each query's fastest run (the untraced run makes
    one pass, so this is its pass time)."""
    return sum(min(rec["s"]) for rec in per.values() if rec["s"])


# ------------------------------------------------------------ traced run
class WaveTracer(layers.Tracer):
    """Spans around the engine's table-layer calls, Spark stage totals per
    wave and seen-set counts — all from the benchmark's side."""

    TABLE_CALLS = [
        ("crawled", "append", "tables.crawled_append"),
        ("frontier", "commit_wave", "tables.frontier_commit_wave"),
        ("frontier", "compact", "tables.frontier_compact"),
        ("frontier", "read", "tables.frontier_read"),
        ("frontier", "read_keys", "tables.frontier_read"),
        ("wave_metrics", "write_rows", "tables.metrics_write"),
    ]

    def __init__(self, run: Run):
        super().__init__()
        from playwrightcrawler_spark.operators import seen

        self.run = run
        self.stages = layers.SparkStages(run.spark)
        self.per_wave: list[dict] = []
        self.mark = 0.0
        self.fx_stage = None
        self.in_wave_s = 0.0
        self.candidates: list = []
        lake = run.eng.lake
        files, nbytes = _dir_size(lake.root)
        self._prev_files = {"files": files, "bytes": nbytes}
        for table, meth, name in self.TABLE_CALLS:
            # the end of fetch+extract is the start of the crawled write
            before = self._fx_boundary if name == "tables.crawled_append" else None
            self.wrap(getattr(lake, table), meth, name, before)
        # the seen-set's input: kept lazily and counted after the wave, so
        # the count neither lands in the wave's time nor changes its plan
        orig = seen.anti_join_seen

        def keep(candidates, *a, **kw):
            self.candidates.append(candidates)
            return orig(candidates, *a, **kw)

        self._wrapped.append((seen, "anti_join_seen", orig))
        seen.anti_join_seen = keep

    def _fx_boundary(self) -> None:
        if self.fx_stage is None:
            t0 = time.perf_counter()
            self.fx_stage = self.stages.snapshot()
            self.in_wave_s += time.perf_counter() - t0

    def before_wave(self) -> dict:
        self.mark = time.perf_counter()
        self.in_wave_s = 0.0
        self.fx_stage = None
        self.candidates.clear()
        return self.stages.snapshot()

    def after_wave(self, rec: dict, pre: dict) -> None:
        post = self.stages.snapshot()
        lake = self.run.eng.lake
        files, nbytes = _dir_size(lake.root)
        prev, self._prev_files = self._prev_files, {"files": files, "bytes": nbytes}
        self.per_wave.append({
            "stages": layers.SparkStages.diff(pre, post),
            "fx_stages": layers.SparkStages.diff(pre, self.fx_stage or post),
            "spans": {n: self.total(n, since=self.mark)
                      for n in {c[2] for c in self.TABLE_CALLS}},
            "checked": sum(c.count() for c in self.candidates),
            "inserted": _inserted_rows(lake.frontier, rec["wave"]),
            "deltas": lake.frontier.deltas_since_base(),
            "flip_rows": lake.frontier.flip_rows_since_base(),
            "files_written": files - prev["files"],
            "bytes_written": nbytes - prev["bytes"],
            "in_wave_s": self.in_wave_s,
        })

    def summary(self, waves: list[dict], check: dict) -> dict:
        pw = self.per_wave
        n = max(1, len(pw))
        t = lambda k: layers.mean([w["timings"].get(k, 0.0) for w in waves])
        sp = lambda k: layers.mean([p["spans"][k] for p in pw])
        st = lambda k: layers.mean([p["stages"][k] for p in pw])
        frontier = t("t_frontier")
        trace_in_wave = layers.mean([p["in_wave_s"] for p in pw])
        checked = sum(p["checked"] for p in pw)
        inserted = sum(p["inserted"] for p in pw)
        bloom = _bloom_stats(self.run.eng.lake) if self.run.shape.use_bloom else (0.0, 0)
        return {
            "engine.select_s": t("t_select"),
            "engine.fetch_extract_s": t("t_fetch") + t("t_extract"),
            "engine.crawled_commit_s": t("t_crawled"),
            "engine.frontier_commit_s": frontier,
            "engine.metrics_s": t("t_buckets") + t("t_metrics"),
            "engine.links_seen_gap": float(check["links_bench"] - check["links_engine"]),
            "tables.crawled_append_s": sp("tables.crawled_append"),
            "tables.frontier_commit_wave_s": sp("tables.frontier_commit_wave"),
            "tables.frontier_compact_s": sp("tables.frontier_compact"),
            "tables.frontier_read_s": sp("tables.frontier_read"),
            "tables.metrics_write_s": sp("tables.metrics_write"),
            "tables.bytes_written": layers.mean([p["bytes_written"] for p in pw]),
            "tables.files_written": layers.mean([p["files_written"] for p in pw]),
            "tables.deltas_since_base": layers.mean([p["deltas"] for p in pw]),
            "tables.flip_rows_since_base": layers.mean([p["flip_rows"] for p in pw]),
            "seen.bloom_maint_s": max(0.0, frontier - sp("tables.frontier_commit_wave")
                                      - sp("tables.frontier_compact")
                                      - sp("tables.frontier_read")),
            "seen.links_checked": checked / n,
            "seen.links_new": inserted / n,
            "seen.new_ratio": inserted / checked if checked else 0.0,
            "seen.bloom_fill": bloom[0],
            "seen.sidecar_bytes": float(bloom[1]),
            "spark.jobs_per_wave": st("jobs"),
            "spark.tasks_per_wave": st("tasks"),
            "spark.executor_run_s": st("executor_run_s"),
            "spark.executor_cpu_s": st("executor_cpu_s"),
            "spark.deser_s": st("deser_s"),
            "spark.shuffle_write_mb": st("shuffle_write_mb"),
            "proc.jvm_cpu_s": layers.mean([w["cpu"]["jvm"] for w in waves]),
            "proc.pyworker_cpu_s": layers.mean([w["cpu"]["py"] for w in waves]),
            "trace.wave_s_p50": layers.median([w["wall_s"] for w in waves]),
            "trace.in_wave_s": trace_in_wave,
        }


def _inserted_rows(frontier, wave: int) -> int:
    """Rows of one wave's frontier insert delta, from parquet footers."""
    total = 0
    for e in frontier.versions():
        if e.get("wave") == wave and not e.get("base"):
            delta = os.path.join(frontier._snap_dir(e["version"]), "inserts")
            for p in glob.glob(os.path.join(delta, "*.parquet")):
                total += pq.ParquetFile(p).metadata.num_rows
    return total


def _dir_size(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def _bloom_stats(lake) -> tuple[float, int]:
    """(fraction of Bloom bits set, sidecar bytes on disk) of the latest
    sidecar snapshot."""
    v = lake.seen_bloom.latest_version
    if v is None:
        return 0.0, 0
    paths = glob.glob(os.path.join(lake.seen_bloom._snap_dir(v), "*.parquet"))
    set_bits = total = size = 0
    for p in paths:
        size += os.path.getsize(p)
        t = pq.read_table(p, columns=["m_bits", "bits"])
        for m, b in zip(t.column("m_bits").to_pylist(), t.column("bits").to_pylist()):
            set_bits += int(np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum())
            total += m
    return (set_bits / total if total else 0.0), size


def query_layers(spark, queries: dict, per: dict) -> dict:
    from playwrightcrawler_spark.plans import audit

    out = {}
    for name, query in queries.items():
        # the fastest pass, as in the end-to-end pass metrics
        out[f"query.{name}_s"] = min(per[name]["s"]) if per[name]["s"] else 0.0
        out[f"query.{name}.shuffles"] = float(audit.shuffle_count(query(spark)))
    return out


def kernel_share(layer: dict, waves: list[dict], tracer: WaveTracer) -> float:
    """Kernel core-seconds per wave (kernel.page_ms × pages fetched) over
    the executor run time of the stages before the crawled commit (the
    select + fetch+extract jobs)."""
    run_s = layers.mean([p["fx_stages"]["executor_run_s"] for p in tracer.per_wave])
    pages = layers.mean([w["urls"] for w in waves])
    return (layer["kernel.page_ms"] * pages / 1e3) / run_s if run_s else 0.0

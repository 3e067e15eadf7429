"""Measurement from the benchmark's side: host state, process-tree CPU and
memory from /proc, Spark stage metrics from the in-process status store,
spans around calls into the engine's layers, and the extraction kernel
timed outside Spark.

Nothing here changes the program: spans wrap bound methods of the objects
a workload created (``Tracer.wrap``), and the kernel is called through its
public functions on pages the benchmark generated.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ host
def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class HostState:
    """nproc, load and steal%% over the run: what makes two runs on this
    host comparable or not."""

    def __init__(self, heap: str):
        self.heap = heap
        self.nproc = os.cpu_count() or 1
        self.load_before = os.getloadavg()[0]
        self._t0 = _cpu_ticks()

    def record(self) -> dict:
        t1 = _cpu_ticks()
        dt = t1[0] - self._t0[0]
        return {
            "nproc": self.nproc,
            "heap": self.heap,
            "loadavg_1m_before": round(self.load_before, 2),
            "loadavg_1m_after": round(os.getloadavg()[0], 2),
            "steal_pct": round(100.0 * (t1[1] - self._t0[1]) / dt, 3) if dt else 0.0,
        }


# ------------------------------------------------------- process tree
def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) of a live pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    kids = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, own, kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def _tree() -> dict[int, tuple[int, str, float, float]]:
    """Every descendant of this process (the JVM, the pyspark daemon and
    its workers), by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                procs[int(name)] = st
    me = os.getpid()
    out, frontier = {}, [me]
    while frontier:
        p = frontier.pop()
        for pid, st in procs.items():
            if st[0] == p and pid not in out:
                out[pid] = st
                frontier.append(pid)
    return out


def _split(tree) -> tuple[list[int], list[int]]:
    """(jvm pids, python-worker pids): python processes under the JVM."""
    jvm = [p for p, st in tree.items() if st[1] == "java"]
    py, frontier = [], list(jvm)
    while frontier:
        parent = frontier.pop()
        for p, st in tree.items():
            if st[0] == parent and p not in py and st[1] != "java":
                py.append(p)
                frontier.append(p)
    return jvm, py


def cpu_snapshot() -> dict[str, float]:
    """CPU seconds so far: this process, the JVM, the python workers
    (own + reaped children, so exited workers still count)."""
    tree = _tree()
    jvm, py = _split(tree)
    me = _stat(os.getpid())
    return {
        "self": me[2] if me else 0.0,
        "jvm": sum(tree[p][2] for p in jvm),
        "py": sum(tree[p][2] + tree[p][3] for p in py),
    }


def cpu_total(snap: dict[str, float]) -> float:
    return snap["self"] + snap["jvm"] + snap["py"]


class RssSampler:
    """Background sampler of resident memory: peak of JVM + python
    workers together, and of each side alone; also the most python
    processes (daemon + workers) alive at once."""

    def __init__(self, period_s: float = 0.25):
        self.period = period_s
        self.peak = {"total": 0.0, "jvm": 0.0, "py": 0.0}
        self.max_py_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        jvm, py = _split(_tree())
        self.max_py_procs = max(self.max_py_procs, len(py))
        j = sum(_rss_mb(p) for p in jvm)
        w = sum(_rss_mb(p) for p in py)
        self.peak["jvm"] = max(self.peak["jvm"], j)
        self.peak["py"] = max(self.peak["py"], w)
        self.peak["total"] = max(self.peak["total"], j + w)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process this run started (JVM, python daemon and workers) is gone."""
    from pyspark import SparkContext

    started = set(_tree())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=timeout_s)
    # python workers outlive the JVM briefly, reparented away from us
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------ spark status store
class SparkStages:
    """Stage and job totals from the Spark status store
    (``sc._jsc.sc().statusStore()``), diffed between two snapshots. Works
    with the UI disabled."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        it = self._store.stageList(
            empty, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            yield it.next()

    def snapshot(self) -> dict:
        seen = {}
        for s in self._stages():
            if str(s.status()) == "COMPLETE":
                seen[(s.stageId(), s.attemptId())] = (
                    s.numTasks(), s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9,
                    s.executorDeserializeTime() / 1e3, s.shuffleWriteBytes(),
                )
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList()).size()
        return {"stages": seen, "jobs": jobs}

    @staticmethod
    def diff(a: dict, b: dict) -> dict:
        new = [v for k, v in b["stages"].items() if k not in a["stages"]]
        return {
            "jobs": b["jobs"] - a["jobs"],
            "tasks": sum(v[0] for v in new),
            "executor_run_s": sum(v[1] for v in new),
            "executor_cpu_s": sum(v[2] for v in new),
            "deser_s": sum(v[3] for v in new),
            "shuffle_write_mb": sum(v[4] for v in new) / 2**20,
        }


# ----------------------------------------------------------------- spans
class Tracer:
    """Spans kept in memory: (name, start, end, parent). ``wrap`` replaces
    one bound method on one object with a timing wrapper; ``restore``
    undoes every wrap."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((name, t0, time.perf_counter(), parent))

    def wrap(self, obj, attr: str, name: str, before=None) -> None:
        """Replace ``obj.attr`` with a wrapper recording a span ``name``;
        ``before()`` runs first on each call, outside the span."""
        orig = getattr(obj, attr)

        def traced(*a, **kw):
            if before is not None:
                before()
            with self.span(name):
                return orig(*a, **kw)

        self._wrapped.append((obj, attr, orig))
        setattr(obj, attr, traced)

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._wrapped):
            setattr(obj, attr, orig)
        self._wrapped.clear()

    def total(self, name: str, since: float = 0.0) -> float:
        """Seconds in top-level ``name`` spans that started after ``since``
        (a span nested in another wrapped call is part of its parent)."""
        return sum(e - s for n, s, e, parent in self.spans
                   if n == name and s >= since and parent is None)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------ kernel, no Spark
def kernel_profile(pages: list[tuple[str, bytes]], reps: int = 3) -> dict[str, float]:
    """The extraction kernel (``udfs._extract_page_row``) and its parts,
    timed per page outside Spark on a fixed sample; best of ``reps``
    passes per part. Also link resolve/sanitize cost per link."""
    from playwrightcrawler_spark.functions import textextract, udfs, urltools

    def best(fn) -> float:
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return min(out)

    n = len(pages)
    decoded = [textextract.decode_html(raw) for _, raw in pages]
    parsed = [textextract.parse_html(c) for c in decoded]
    joined = [" ".join(parts) for parts, _ in parsed]
    links = [(u, h) for (u, _), (_, ls) in zip(pages, parsed) for h in ls]
    resolved = [urltools.resolve_link(u, h) for u, h in links]
    t_page = best(lambda: [udfs._extract_page_row(raw, u) for u, raw in pages])
    t_dec = best(lambda: [textextract.decode_html(raw) for _, raw in pages])
    t_parse = best(lambda: [textextract.parse_html(c) for c in decoded])
    t_top = best(lambda: [textextract.top_words(j) for j in joined])
    t_od = best(lambda: [textextract.is_open_directory(c, u)
                         for c, (u, _) in zip(decoded, pages)])
    t_res = best(lambda: [urltools.resolve_link(u, h) for u, h in links])
    t_san = best(lambda: [urltools.sanitize_url(r) for r in resolved])
    bails = sum(textextract.fast_scan_bailed(raw) for _, raw in pages)
    nl = max(1, len(links))
    return {
        "kernel.page_ms": 1e3 * t_page / n,
        "kernel.decode_ms": 1e3 * t_dec / n,
        "kernel.parse_ms": 1e3 * t_parse / n,
        "kernel.top_words_ms": 1e3 * t_top / n,
        "kernel.opendir_ms": 1e3 * t_od / n,
        "kernel.bail_frac": bails / n,
        "kernel.links_per_page": len(links) / n,
        "urltools.resolve_us": 1e6 * t_res / nl,
        "urltools.sanitize_us": 1e6 * t_san / nl,
    }

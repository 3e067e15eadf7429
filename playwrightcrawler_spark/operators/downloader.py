"""Bulk asset downloader — the reference's third entry point
(`python3 downloader.py`, SURVEY.md §3.3) as one DataFrame pipeline.

Reference shape (downloader.py:81-340): regex-filtered scan of the content
index (S7, chunked to fit ES's 1000-char regex cap) → fan-out with a global
semaphore of 20 and ONE in-flight request per host (X9/X10,
downloader.py:256-264, 335-338) → traversal-proof mirror paths (P19,
downloader.py:168-209).

Spark-first mapping:

- S7 scan   → plain ``rlike`` conjunction; no chunking (P20 unnecessary —
  Spark regex literals have no length cap).
- X9/X10    → ``groupBy(host).applyInPandas``: each host's rows are
  processed SEQUENTIALLY inside one task (the per-host asyncio.Lock
  analogue) with a per-host download budget; the global semaphore becomes
  executor parallelism. "Downloading" is a byte copy from the pages table
  (BASELINE.json input_hint replaces the live network); Range-resume and
  backoff have no table-sourced analogue.
- P19       → pure kernel + pandas UDF (parity-tested against the
  AST-extracted reference function).
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import quote, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUT_DIR = "downloads"


# ---------------------------------------------------------------------------
# S7 — regex-filtered scan
# ---------------------------------------------------------------------------

def _joined(patterns) -> str | None:
    pats = [p for p in (patterns or []) if p and isinstance(p, str)]
    return "(?:" + "|".join(pats) + ")" if pats else None


def filtered_scan(
    crawled: DataFrame,
    include_ext=None, exclude_ext=None,
    include_ctype=None, exclude_ctype=None,
    include_host=None, exclude_host=None,
) -> DataFrame:
    """S7 get_filtered_urls (reference downloader.py:81-164): inclusion and
    exclusion regex lists over file_extension / content_type / host. One
    predicate conjunction — Catalyst pushes it into the scan; the
    reference's chunked-alternation workaround (P20) is unnecessary."""
    df = crawled
    for col, inc, exc in (
        ("file_extension", include_ext, exclude_ext),
        ("content_type", include_ctype, exclude_ctype),
        ("host", include_host, exclude_host),
    ):
        p = _joined(inc)
        if p:
            df = df.filter(F.col(col).rlike(p))
        p = _joined(exc)
        if p:
            df = df.filter(~F.col(col).rlike(p))
    return df


# ---------------------------------------------------------------------------
# P19 — traversal-proof mirror path
# ---------------------------------------------------------------------------

def safe_filepath_from_url(url: str, output_dir: str = OUTPUT_DIR) -> str:
    """Reference safe_filepath_from_url (downloader.py:168-209) minus the
    filesystem side effects (no makedirs — the sink creates directories):
    host/path mirror, index.html for directories, query encoded into the
    name, unsafe characters replaced, ../ traversal flattened into
    ``unsafe/``."""
    parsed = urlsplit(url)
    host = parsed.hostname or "unknown"
    path = parsed.path or "/"
    query = parsed.query

    if path.endswith("/"):
        path += "index.html"
    if query:
        safe_query = quote(query, safe="")
        base, ext = posixpath.splitext(path)
        path = f"{base}_{safe_query}{ext or '.html'}"
    path = path.lstrip("/")
    safe_path = re.sub(r"[<>:\"|?*]", "_", path)

    full_path = posixpath.join(output_dir, host, safe_path)
    normalized = posixpath.normpath(full_path)
    if not (normalized == output_dir or normalized.startswith(output_dir + "/")):
        safe_name = re.sub(r"[^a-zA-Z0-9_.-]", "_", f"{host}_{path}")
        normalized = posixpath.join(output_dir, "unsafe", safe_name)
    return normalized


# ---------------------------------------------------------------------------
# X9/X10 — politeness-bounded fetch fan-out
# ---------------------------------------------------------------------------

_FETCH_SCHEMA = (
    "url string, host string, bytes_len long, status string, filepath string"
)


def host_budgeted_fetch(
    urls: DataFrame,
    pages: DataFrame,
    budget_per_host: int = 20,
    write_root: str | None = None,
) -> DataFrame:
    """X9/X10: fetch bytes for the selected URLs with per-host politeness.

    - the per-host budget is applied BEFORE the bytes join: a window rank
      over (host, url) splits the input into in-budget rows (`<= budget`)
      and over-budget rows, which are emitted as ``skipped_budget`` from
      the cheap side with no payload. A mega-host with 10^8 asset URLs
      therefore contributes at most ``budget`` rows to its pandas group
      (bounded memory) and the pages scan never fetches bytes for rows
      that would be skipped anyway (round-2 verdict fix);
    - the (small) in-budget set broadcasts against the (10^10-row) pages
      table: an inner join scans pages once, shuffle-free; dead URLs are
      recovered by a tiny anti-join and tagged ``missing``. A fetch
      ATTEMPT consumes a budget slot whether or not the URL resolves —
      politeness budgets requests, not successes;
    - ``groupBy(host).applyInPandas`` serializes each host inside one task
      (reference per-host lock, downloader.py:256-264) in deterministic
      url order; no row is ever silently dropped (no silent caps);
    - host_salt skew note: politeness accounting must aggregate on the RAW
      host, so the grouping/window key is host itself;
    - ``write_root`` (S6, the asset byte sink — reference handler file
      writes playwrightcrawler.py:2803-2818 / downloader.py:168-209): when
      set, each task writes its rows' bytes into a mirror tree at
      ``write_root/<P19 path>`` and reports status ``written``. The P19
      kernel already flattens traversal into ``unsafe/``; the sink
      additionally realpath-confirms containment before writing (rows
      failing it — impossible by construction — come back as
      ``unsafe_skipped``, never silently dropped). On a cluster this runs
      executor-side, so write_root must be a shared filesystem (or an
      object-store mount); the sandbox exercises it on local disk.

    Input ``urls`` needs (url, host); output one row per input url.
    """
    from pyspark.sql import Window

    want = urls.select("url", "host")
    w = Window.partitionBy("host").orderBy("url")
    ranked = want.withColumn("_rn", F.row_number().over(w))
    in_budget = ranked.filter(F.col("_rn") <= budget_per_host).drop("_rn")
    over_budget = ranked.filter(F.col("_rn") > budget_per_host).select(
        "url", "host",
        F.lit(None).cast("long").alias("bytes_len"),
        F.lit("skipped_budget").alias("status"),
        F.lit(None).cast("string").alias("filepath"),
    )
    hit = pages.select("url", "html").join(
        F.broadcast(in_budget), on="url", how="inner"
    )
    missing = (
        in_budget.join(F.broadcast(hit.select("url")), on="url", how="left_anti")
        .select(
            "url", "host",
            F.lit(None).cast("long").alias("bytes_len"),
            F.lit("missing").alias("status"),
            F.lit(None).cast("string").alias("filepath"),
        )
    )

    def _fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        # group size is <= budget_per_host by construction (window pre-limit)
        pdf = pdf.sort_values("url").reset_index(drop=True)
        paths = pdf["url"].map(safe_filepath_from_url)
        if write_root is None:
            status = ["downloaded"] * len(pdf)
        else:
            import os

            root = os.path.realpath(write_root)
            status = []
            for rel, payload in zip(paths, pdf["html"]):
                dest = os.path.realpath(os.path.join(root, rel))
                if not (dest == root or dest.startswith(root + os.sep)):
                    status.append("unsafe_skipped")
                    continue
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                with open(dest, "wb") as fh:
                    fh.write(bytes(payload) if payload is not None else b"")
                status.append("written")
        return pd.DataFrame({
            "url": pdf["url"],
            "host": pdf["host"],
            "bytes_len": pdf["html"].map(lambda b: len(b) if b is not None else 0),
            "status": status,
            "filepath": paths,
        })

    fetched = hit.groupBy("host").applyInPandas(_fetch, _FETCH_SCHEMA)
    return fetched.unionByName(missing).unionByName(over_budget)


def mirror_assets(
    crawled: DataFrame,
    pages: DataFrame,
    output_root: str,
    budget_per_host: int = 20,
    **scan_filters,
) -> DataFrame:
    """The reference downloader entry point end-to-end (S6+S7+X9/X10):
    regex-filtered scan → politeness-budgeted fetch → mirror-tree byte
    sink under ``output_root``. Returns the per-url status frame."""
    scan = filtered_scan(crawled, **scan_filters)
    return host_budgeted_fetch(
        scan, pages, budget_per_host=budget_per_host, write_root=output_root
    )

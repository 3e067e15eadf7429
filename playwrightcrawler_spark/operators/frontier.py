"""Frontier selection — the crawl scheduler as window queries.

The reference implements three sampling strategies over the links index
plus a weighted chooser (SURVEY.md §2.2, F1-F4). Each strategy collapses
to one URL per host — its only politeness mechanism — which this engine
generalizes to a per-host *quota* (north_rule). All randomness is seeded
(``rand(seed)`` / a seeded driver RNG): the reference uses unseeded
``random`` (playwrightcrawler.py:1167,1204,1307,...), so deterministic
crawl-ordering equivalence is defined under a pinned seed (SURVEY.md §5.2).

Scale notes: every policy is one scan + one window + one global sort
bounded by ``limit(size)``. The window partitions by ``host`` — the same
key the frontier is salted/bucketed on — so at cluster scale the shuffle
is bounded by the candidate set, not the 10^10-row table. Column pruning
reaches the scan; the ``visited = false`` filter does not. On the
merge-on-read view (``MorTable.read``) it sits above the flip join that
sets ``visited``, so the base scan has ``DataFilters: []`` and every
selection reads and sorts every unvisited row (WindowGroupLimit only cuts
the shuffle to ``quota`` rows per host per partition).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from playwrightcrawler_spark import config


def per_host_quota(df: DataFrame, order_col, quota: int = 1) -> DataFrame:
    """Keep ``quota`` rows per host ordered by ``order_col`` (a column or a
    list of columns) — the generalized one-URL-per-host collapse (J3;
    reference playwrightcrawler.py:1419-1421 keeps the first per host)."""
    cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]
    w = Window.partitionBy("host").orderBy(*cols, F.col("url"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def select_oldest(df: DataFrame, size: int, quota: int = 1) -> DataFrame:
    """F1 get_oldest_host_domains (reference :1360-1428): oldest URL per
    host, globally oldest-first, capped at ``size``."""
    return (
        per_host_quota(df, F.col("discovered_at").asc(), quota)
        .orderBy("discovered_at", "url")
        .limit(size)
    )


def _pivot_timestamp(df: DataFrame, frac: float):
    """Random timestamp between min and max discovered_at (F6; reference
    :1150-1159) — ``frac`` comes from the seeded driver RNG."""
    row = df.agg(
        F.min("discovered_at").alias("lo"), F.max("discovered_at").alias("hi")
    ).first()
    if row.lo is None:
        return None
    return row.lo + (row.hi - row.lo) * frac


def select_random(df: DataFrame, size: int, seed: int, quota: int = 1) -> DataFrame:
    """F2 get_random_host_domains (reference :1265-1357): random time pivot,
    scan newer rows, one random URL per host, shuffled."""
    rng = random.Random(seed)
    pivot = _pivot_timestamp(df, rng.random())
    if pivot is not None:
        df = df.filter(F.col("discovered_at") >= F.lit(pivot))
    # pseudo-randomness via value hashing, NOT rand(): rand(seed) depends on
    # partition layout, which breaks resume determinism (§5.2)
    r = F.xxhash64(F.col("url"), F.lit(seed))
    return (
        per_host_quota(df, r.asc(), quota)
        .orderBy(F.xxhash64(F.col("url"), F.lit(seed + 1)), "url")
        .limit(size)
    )


def select_host_prefix(df: DataFrame, size: int, seed: int, quota: int = 1) -> DataFrame:
    """F3 get_urls_by_random_timestamp_and_prefix (reference :1119-1220):
    seeded host first-char from [a-z0-9], time pivot, per-host collapse.

    ONE driver action total: a conditional aggregate yields min/max bounds
    for both the prefix slice and the full table, replacing the reference's
    20 pivot retries AND the empty-slice probes — a pivot drawn inside
    [lo, hi] always admits at least the max row, so no retry can be needed
    (empty prefix slice → fall back to the unfiltered set, the retry
    loop's intent: never return empty when the table isn't)."""
    rng = random.Random(seed)
    chosen = rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
    frac = rng.random()
    pref = F.substring(F.col("host"), 1, 1) == chosen
    ts = F.col("discovered_at")
    row = df.agg(
        F.min(F.when(pref, ts)).alias("plo"), F.max(F.when(pref, ts)).alias("phi"),
        F.min(ts).alias("lo"), F.max(ts).alias("hi"),
    ).first()
    sliced, pivot = df, None
    if row.plo is not None:
        sliced = df.filter(pref)
        pivot = row.plo + (row.phi - row.plo) * frac
    elif row.lo is not None:
        pivot = row.lo + (row.hi - row.lo) * frac
    if pivot is not None:
        sliced = sliced.filter(ts >= F.lit(pivot))
    r = F.xxhash64(F.col("url"), F.lit(seed))
    return (
        per_host_quota(sliced, r.asc(), quota)
        .orderBy(F.xxhash64(F.col("url"), F.lit(seed + 1)), "url")
        .limit(size)
    )


def select_fewest_urls(df: DataFrame, size: int, quota: int = 1) -> DataFrame:
    """The method the reference weights but never wired up (F4 latent
    KeyError, reference :4482-4503): prefer hosts we know least about.
    host → count asc, oldest URL per host."""
    counts = df.groupBy("host").agg(F.count("*").alias("_host_urls"))
    return (
        per_host_quota(df, F.col("discovered_at").asc(), quota)
        .join(F.broadcast(counts.orderBy("_host_urls", "host").limit(size * 4)), "host")
        .orderBy("_host_urls", "host", "url")
        .limit(size)
        .drop("_host_urls")
    )


def select_priority(df: DataFrame, size: int, quota: int = 1) -> DataFrame:
    """north_rule depth/score priority queue (no reference counterpart):
    highest-score rows first — score = 1/(1+depth) favors shallow URLs, so
    the crawl front stays breadth-biased; ties broken by age then url."""
    order = [F.col("score").desc(), F.col("discovered_at").asc()]
    return (
        per_host_quota(df, order, quota)
        .orderBy(F.col("score").desc(), "discovered_at", "url")
        .limit(size)
    )


def filter_blocked_hosts(df: DataFrame) -> DataFrame:
    """F5 (reference :4414-4425)."""
    pattern = "(?:" + "|".join(config.HOST_REGEX_BLOCK_LIST) + ")"
    return df.filter(~F.col("host").rlike(pattern))


METHODS = {
    "oldest": lambda df, size, seed, quota: select_oldest(df, size, quota),
    "random": select_random,
    "host_prefix": select_host_prefix,
    "fewest_urls": lambda df, size, seed, quota: select_fewest_urls(df, size, quota),
    "priority": lambda df, size, seed, quota: select_priority(df, size, quota),
}


def weighted_select(
    df: DataFrame,
    size: int = config.RANDOM_SITES_QUEUE,
    seed: int = 42,
    quota: int = config.PER_HOST_WAVE_QUOTA,
    weights: dict | None = None,
) -> tuple[str, DataFrame]:
    """F4 get_random_unvisited_domains (reference :4427-4503): seeded
    weighted choice among strategies, then blocked-host filtering."""
    weights = weights or config.METHOD_WEIGHTS
    names = list(weights.keys())
    rng = random.Random(seed)
    method = rng.choices(names, weights=[weights[n] for n in names], k=1)[0]
    picked = METHODS[method](df, size, seed, quota)
    return method, filter_blocked_hosts(picked)

"""Partitioned Bloom URL-seen set (north_rule; SURVEY.md §4 custom-work #2).

The frontier's ``url_hash`` keyspace IS the URL-seen set — the reference's
``_id = sha256(url)`` overwrite semantics (playwrightcrawler.py:1431-1456,
1628-1651). The naive per-wave membership test is
``new_links LEFT ANTI JOIN frontier ON url_hash``; for LeftAnti the big
(right) side cannot be the broadcast build side, so at 10^10 frontier rows
that plan shuffles the whole table every wave.

This module replaces it with a two-step exact pipeline whose only work
against the big table is ONE un-shuffled scan:

1. **Broadcast confirm** — one Bloom sidecar per ``host_salt`` bucket (the
   frontier's physical partitioning key), built/merged distributed, probes
   every candidate once. Its POSITIVES (true dups + false positives, a tiny
   fraction of discovered links) are broadcast INNER-joined against the
   frontier: the frontier is scanned, never shuffled, and on Iceberg the
   bucket layout + min/max stats prune the scan to matching files. A Bloom
   has no false negatives, so the join's result is exactly the candidates
   already in the frontier.
2. **Exact subtraction** — those confirmed-seen hashes are small, so the
   final anti-join of the candidates broadcasts them. False positives only
   cost a redundant probe; no URL is ever dropped (the Bloom is a
   pre-filter ONLY — mirrors the `_id` exactness contract).

Sidecar life (``BloomSidecar``, its one owner): the ``seen_bloom`` table
holds one ``SIDECAR_PA_SCHEMA`` row per bucket, each snapshot stamped
with the ``frontier_version`` it covers. A probe reads it driver-side and
first rebuilds it from the full frontier if the stamp is not the
frontier's latest version (Bloom enabled mid-life, a commit by a Bloom-off
engine), so the Bloom never misses a hash. Every base write rebuilds it,
sized from the key count; every other frontier delta OR-merges a Bloom
over its inserts (Bloom union = bitwise OR), O(wave). All of it commits in
the caller's transaction; the engine holds none of it between operations.

Everything is numpy over Arrow batches (vectorized); probe positions use
double hashing ``g_i = h1 + i*h2 mod m`` with a splitmix64-mixed second
hash — deterministic across runs and platforms.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from playwrightcrawler_spark import config

SIDECAR_PA_SCHEMA = pa.schema([
    ("host_salt", pa.int32()),
    ("m_bits", pa.int64()),
    ("k", pa.int32()),
    ("n_items", pa.int64()),
    ("bits", pa.binary()),
])
_SIDECAR_SCHEMA = from_arrow_schema(SIDECAR_PA_SCHEMA)


def bloom_params(expected_items: int, fpp: float = config.BLOOM_FPP) -> tuple[int, int]:
    """(m_bits, k) for the target false-positive rate; m rounded up to a
    byte multiple, both floored to sane minimums for near-empty buckets."""
    n = max(expected_items, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max((m + 7) // 8 * 8, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, min(k, 16)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second probe hash from url_hash."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int):
    """Yield k arrays of bit positions (double hashing)."""
    h1 = hashes.astype(np.int64).view(np.uint64)
    h2 = _mix64(h1) | np.uint64(1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> None:
    for pos in _probe_positions(hashes, m_bits, k):
        np.bitwise_or.at(bits, pos >> 3, np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))


def _test_bits(bits: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    hit = np.ones(len(hashes), dtype=bool)
    for pos in _probe_positions(hashes, m_bits, k):
        hit &= (bits[pos >> 3] & np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))) != 0
    return hit


def build_blooms(
    df: DataFrame,
    expected_items_per_bucket: int,
    fpp: float = config.BLOOM_FPP,
    hash_col: str = "url_hash",
    salt_col: str = "host_salt",
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """One Bloom sidecar row per host_salt bucket, built where the data
    lives: applyInPandas over the bucket grouping (the same shuffle key as
    the frontier's physical layout, so on Iceberg this is shuffle-free).

    Pass explicit ``(m_bits, k)`` to build an increment that OR-merges into
    an EXISTING sidecar (bloom union requires equal parameters) — after a
    compaction-time resize the live sidecar's parameters differ from what
    ``expected_items_per_bucket`` alone would derive."""
    if m_bits is None or k is None:
        m_bits, k = bloom_params(expected_items_per_bucket, fpp)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        h = pdf[hash_col].to_numpy(dtype=np.int64)
        _set_bits(bits, h, m_bits, k)
        return pd.DataFrame(
            {
                "host_salt": [int(pdf[salt_col].iloc[0])],
                "m_bits": [m_bits],
                "k": [k],
                "n_items": [len(h)],
                "bits": [bits.tobytes()],
            }
        )

    return (
        df.select(salt_col, hash_col)
        .groupBy(salt_col)
        .applyInPandas(_build, _SIDECAR_SCHEMA)
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two sidecar sets: per-bucket bitwise OR (Bloom union).
    Buckets must share (m_bits, k) — enforced."""

    def _or(pdf: pd.DataFrame) -> pd.DataFrame:
        assert pdf["m_bits"].nunique() == 1 and pdf["k"].nunique() == 1, (
            "bloom sidecars with mismatched parameters cannot be merged"
        )
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for raw in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        out = pdf.iloc[[0]].copy()
        out["bits"] = [acc.tobytes()]
        out["n_items"] = [int(pdf["n_items"].sum())]
        return out

    return (
        a.unionByName(b)
        .groupBy("host_salt")
        .applyInPandas(_or, _SIDECAR_SCHEMA)
    )


def maybe_seen_col(
    spark: SparkSession,
    blooms: DataFrame | list,
    hash_col: str = "url_hash",
    salt_col: str = "host_salt",
):
    """Column factory: BooleanType 'maybe seen' via a broadcast of the
    sidecar map (64 buckets → executor-local dict, no per-row join)."""
    rows = blooms.collect() if isinstance(blooms, DataFrame) else blooms
    table = {
        int(r["host_salt"]): (
            np.frombuffer(r["bits"], dtype=np.uint8),
            int(r["m_bits"]),
            int(r["k"]),
        )
        for r in rows
    }
    bc = spark.sparkContext.broadcast(table)

    @F.pandas_udf(T.BooleanType())
    def _maybe(salt: pd.Series, h: pd.Series) -> pd.Series:
        tbl = bc.value
        out = np.zeros(len(h), dtype=bool)
        hv = h.to_numpy(dtype=np.int64)
        sv = salt.to_numpy(dtype=np.int64)
        for s in np.unique(sv):
            entry = tbl.get(int(s))
            if entry is None:
                continue  # bucket never seen anything → definitely new
            bits, m_bits, k = entry
            mask = sv == s
            out[mask] = _test_bits(bits, hv[mask], m_bits, k)
        return pd.Series(out)

    return _maybe(F.col(salt_col), F.col(hash_col))


def anti_join_seen(
    candidates: DataFrame,
    frontier: DataFrame,
    spark: SparkSession,
    blooms: DataFrame | list | None = None,
    hash_col: str = "url_hash",
    salt_col: str = "host_salt",
) -> DataFrame:
    """EXACT ``candidates \\ frontier`` on ``hash_col``. Without blooms this
    is the plain anti-join (small-frontier fast path). With blooms the plan
    never shuffles the frontier, and probes each candidate once:

        maybe  = candidates WHERE maybe_seen                  (one probe)
        seen   = frontier ⋈ broadcast(maybe)                  (scan, no shuffle)
        result = candidates ANTI broadcast(seen)

    ``blooms`` must cover ``frontier``: with no false negatives, ``seen``
    is exactly candidates ∩ frontier.

    The probe's verdict comes out of a generator, not as an alias of the
    UDF call, so constraint inference cannot copy the ``_m`` filter
    through the ``hash_col`` equi-join onto the frontier side when the
    salt is a function of the hash: the probe runs over candidates only.
    """
    if blooms is None:
        return candidates.join(
            frontier.select(hash_col), on=hash_col, how="left_anti"
        )
    probe = maybe_seen_col(spark, blooms, hash_col, salt_col)
    maybe = candidates.select(
        hash_col, F.inline(F.array(F.struct(probe.alias("_m"))))
    ).filter("_m")
    seen_hashes = frontier.select(hash_col).join(
        F.broadcast(maybe.select(hash_col)), on=hash_col, how="inner"
    )
    return candidates.join(F.broadcast(seen_hashes), on=hash_col, how="left_anti")


class BloomSidecar:
    """The engine's sidecar: the ``seen_bloom`` table of ``lake`` (a
    ``Lakehouse``), sized at least ``items_per_bucket`` per bucket."""

    def __init__(self, lake, items_per_bucket: int):
        self.lake = lake
        self.items = items_per_bucket

    def rows(self, spark: SparkSession) -> list[dict]:
        """The rows covering the frontier's latest version, read with
        pyarrow (no Spark job); rebuilt first when missing or stale."""
        side = self.lake.seen_bloom
        if (side.exists() and side.versions()[-1].get("frontier_version")
                == self.lake.frontier.latest_version):
            return side.read_rows()
        return self.rebuild(spark)

    def rebuild(self, spark: SparkSession) -> list[dict]:
        """Build from the full key set, (m, k) re-derived from the ACTUAL
        frontier size with 2x headroom: fixed parameters saturate as the
        frontier grows, FPP tends to 1 and every candidate is confirmed.
        Keys only (flips never change url_hashes), sized from footers."""
        frontier = self.lake.frontier
        keys = frontier.read_keys(spark, cols=("host_salt", "url_hash"))
        per_bucket = max(-(-frontier.key_rows() * 2 // config.HOST_SALT_BUCKETS), self.items)
        return self._write(build_blooms(keys, expected_items_per_bucket=per_bucket),
                           op="rebuild", per_bucket=int(per_bucket))

    def add(self, spark: SparkSession, version: int) -> list[dict]:
        """OR-merge a Bloom over the rows frontier delta ``version``
        inserted, read back from its files, built with the live sidecar's
        (m, k): after a rebuild they are not ``items_per_bucket``'s."""
        live = self.lake.seen_bloom.read_rows()
        params = dict(m_bits=int(live[0]["m_bits"]), k=int(live[0]["k"])) if live else {}
        keys = self.lake.frontier.read_inserts(spark, version, cols=("host_salt", "url_hash"))
        new = build_blooms(keys, expected_items_per_bucket=self.items, **params)
        return self._write(merge_blooms(self.lake.seen_bloom.read(spark), new))

    def _write(self, blooms: DataFrame, **meta) -> list[dict]:
        """Collect the 64-row sidecar and write it driver-side, stamped
        with the frontier version it covers."""
        rows = [r.asDict() for r in blooms.collect()]
        self.lake.seen_bloom.write_rows(rows, SIDECAR_PA_SCHEMA, meta={
            "frontier_version": self.lake.frontier.latest_version, **meta})
        return rows

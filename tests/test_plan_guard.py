"""Plan-regression guard (round-4 verdict #5).

Pins today's physical-plan shape for the wave hot path and the top-3
headline queries — the same fields bench.py records into the official
bench JSON (``plans``). A refactor that reintroduces a shuffle on the
pages side or a row-at-a-time BatchEvalPython node fails HERE, loudly,
instead of surfacing as a silent throughput drop in a later round.

Pinned values measured 2026-08-22 on the round-7 code (signatures are
checkpoint-backed, candidate pairs lazy AND structurally distinct — the
per-band disjoint-union removed the distinct exchange entirely; see
OPTIMIZATION_r07.md):
    minhash_lsh_pairs      shuffles=0 (no pair exchange)    arrow_only
    minhash_lsh_pairs_xxh  shuffles=3                       arrow_only
    embedding_near_dup     shuffles=2                       arrow_only
    crawl_wave (fused)     shuffles=0, broadcast join       arrow_only
"""

from __future__ import annotations

import pytest

import bench
import __spark_entry__ as entrymod
from playwrightcrawler_spark.plans import audit


@pytest.fixture(scope="module")
def guard(spark, pages_dir, sf_dir):
    return bench.plan_guard(spark, entrymod.queries(),
                            pages_path=pages_dir, sf_dir=sf_dir)


def test_every_guarded_plan_is_arrow_only(guard):
    for name, fields in guard.items():
        assert fields["arrow_only"], f"{name} plans a BatchEvalPython node"


def test_wave_hot_path_has_zero_shuffles(guard):
    # the fused scan→sniff→route→extract frame: pages scanned once,
    # never exchanged — extraction parallelism comes from scan splits
    assert guard["crawl_wave"]["shuffles"] == 0


def test_headline_query_shuffle_budgets(guard):
    # == pins, not <=: a shuffle DISAPPEARING is also a plan change worth
    # noticing (e.g. an accidental collect/broadcast of a big side)
    assert guard["minhash_lsh_pairs"]["shuffles"] == 0
    assert guard["minhash_lsh_pairs_xxh"]["shuffles"] == 3
    assert guard["embedding_near_dup"]["shuffles"] == 2


def test_wave_plan_broadcasts_the_wave_side(spark, pages_dir, tmp_path):
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.crawl.engine import CrawlEngine

    eng = CrawlEngine(spark, pages_dir, str(tmp_path / "wh"),
                      method_weights={"oldest": 1})
    wave_df = (
        spark.read.parquet(pages_dir).select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
        .withColumn("depth", F.lit(0))
        .withColumn("discovered_at", F.current_timestamp())
    )
    df = eng._fused_fetch_extract(wave_df)
    assert audit.has_broadcast_join(df)
    assert audit.shuffle_count(df) == 0
    assert audit.uses_arrow_udfs_only(df)

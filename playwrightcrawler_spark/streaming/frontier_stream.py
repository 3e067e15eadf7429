"""Structured Streaming variant of link ingestion.

The reference is wave-iterated batch (ITERATIONS loop,
playwrightcrawler.py:5384) and so is this engine's main path; streaming is
the continuous-ingest complement: seed/discovered-link files landing in a
folder enter the frontier through ``CrawlEngine.ingest`` — the wave's own
link stage — once per micro-batch via foreachBatch + the frontier's atomic
O(batch) delta commit.

Design notes for 10^10 scale:
- the ingest stream holds no dedupe state: the frontier seen-set
  anti-join inside foreachBatch is the global dedup (J5's MERGE … WHEN NOT
  MATCHED THEN INSERT; state stores can't hold 10^10 keys), and it also
  makes a replayed micro-batch commit nothing;
- the politeness gate's ``dropDuplicates(["url"])`` has no watermark, so
  its state keeps every distinct URL the gate has seen and grows with
  them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from playwrightcrawler_spark.crawl.engine import CrawlEngine
from playwrightcrawler_spark.sources.seeds import seed_lines


def streaming_links(spark: SparkSession, folder: str) -> DataFrame:
    """Unbounded link source: text files appearing under ``folder``."""
    return seed_lines(
        spark.readStream.format("text").option("maxFilesPerTrigger", 16).load(folder)
    )


def clean_links(links: DataFrame) -> DataFrame:
    """(url, host) of the links the engine's hygiene keeps, each URL once.
    Streaming-safe: ``seed_link`` runs once per row of each micro-batch
    (``CrawlEngine._url_links``) and the hygiene is stateless column work."""
    checked = CrawlEngine._classify_links(CrawlEngine._url_links(links))
    return (
        checked.filter(F.col("drop_reason").isNull())
        .select("url", "host")
        .dropDuplicates(["url"])
    )


def start_frontier_ingest(
    engine: CrawlEngine,
    folder: str,
    checkpoint_dir: str,
    trigger_seconds: int = 2,
):
    """links folder → ``engine.ingest`` per micro-batch: one delta commit
    of the batch's new URLs (none when all are known)."""
    return (
        streaming_links(engine.spark, folder)
        .writeStream.foreachBatch(lambda batch, _: engine.ingest(batch))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


# ---------------------------------------------------------------------------
# Stateful politeness gate (applyInPandasWithState)
# ---------------------------------------------------------------------------

_GATE_OUT_SCHEMA = "url string, host string, emitted_in_batch int"
_GATE_STATE_SCHEMA = "pending array<string>, dropped long"


def start_politeness_gate(
    spark: SparkSession,
    folder: str,
    out_dir: str,
    checkpoint_dir: str,
    quota_per_trigger: int = 1,
    max_pending: int = 1000,
):
    """Streaming per-host politeness: at most ``quota_per_trigger`` URLs
    per host are released per micro-batch; the overflow is CARRIED in
    per-host state (bounded at ``max_pending`` — beyond that the NEWEST
    arrivals are counted in ``dropped``, never silently lost: the queue is
    FIFO, full queue rejects new work) and released by later triggers even
    if no new links arrive for that host. State is REMOVED once a host's
    backlog drains (re-created on its next input), so state size tracks
    hosts with live backlogs, not every host ever seen; the ``dropped``
    counter consequently accounts per backlog episode, not per lifetime.

    This is the reference's per-host asyncio.Lock/serial-fetch semantics
    (downloader.py:256-264) as a custom stateful streaming operator:
    ``groupBy(host).applyInPandasWithState`` keeps one small state row per
    host — the standard Spark pattern for operators the built-in windowed
    aggs can't express. State is per-host and bounded, so 10^8 hosts cost
    O(hosts) state, independent of frontier size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def gate(key, pdf_iter, state):
        import pandas as pd

        (host,) = key
        pending, dropped = state.get if state.exists else ([], 0)
        pending = list(pending)
        for pdf in pdf_iter:
            pending.extend(pdf["url"].tolist())
        if len(pending) > max_pending:
            dropped += len(pending) - max_pending
            pending = pending[: max_pending]
        release, pending = pending[:quota_per_trigger], pending[quota_per_trigger:]
        if pending:
            state.update((pending, dropped))
            # a processing-time timeout re-invokes this host next trigger
            # even with no new input, so carried URLs always drain
            state.setTimeoutDuration(500)
        elif state.exists:
            # drained: drop the state row — otherwise state grows
            # monotonically with every distinct host ever seen
            state.remove()
        if release:
            yield pd.DataFrame({
                "url": release,
                "host": [host] * len(release),
                "emitted_in_batch": [len(release)] * len(release),
            })

    cleaned = clean_links(streaming_links(spark, folder))
    gated = cleaned.groupBy("host").applyInPandasWithState(
        gate, _GATE_OUT_SCHEMA, _GATE_STATE_SCHEMA,
        "append", GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 seconds")
        .start()
    )

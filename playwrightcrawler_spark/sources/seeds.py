"""Seed-URL ingestion (S5 — reference process_input_url_files,
playwrightcrawler.py:3456-3554).

The reference tails text files from INPUT_FOLDER 100 URLs at a time,
rewrites the remainder and tolerates broken UTF-8. On Spark the whole
folder is one distributed read with set semantics — batching and
remainder bookkeeping disappear (SURVEY.md S5); bad bytes are handled by
the permissive text source. Seeds enter the frontier through the wave's
link stage, so they can never bypass the block lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def seed_lines(lines: DataFrame) -> DataFrame:
    """A text source's ``value`` lines → one trimmed ``url`` per line,
    blank lines and '#' comments dropped. Stateless, so the batch folder
    reader and the streaming link source share it."""
    return (
        lines.select(F.trim(F.col("value")).alias("url"))
        .filter((F.col("url") != "") & ~F.col("url").startswith("#"))
    )


def read_seed_folder(spark: SparkSession, folder: str | list[str]) -> DataFrame:
    """One URL per line (``seed_lines``) of a folder or a list of files,
    duplicates collapsed."""
    return seed_lines(spark.read.text(folder)).dropDuplicates(["url"])


def ingest_seeds(engine, folder: str, ingested: set[str]) -> int:
    """Folder → frontier via ``engine.ingest``, fully distributed: the seed
    DataFrame takes the wave's link hygiene and is anti-joined against the live
    frontier (never collected to the driver, never overwriting the
    frontier — reference process_input_url_files runs DURING a crawl).
    Reads only the files whose paths are not in ``ingested`` — the rule of
    Spark's file stream source — and adds them once their ingest commits;
    with no new file no Spark job runs. Re-reading a file is harmless (the
    anti-join keeps it idempotent), so the set need not survive a restart.
    Returns the number of NEW frontier rows."""
    files = [f for f in engine.spark.read.text(folder).inputFiles() if f not in ingested]
    if not files:
        return 0
    added = engine.ingest(read_seed_folder(engine.spark, files))
    ingested.update(files)
    return added

"""robots.txt → broadcastable rules table (north_rule addition — the
reference has no robots support; its only politeness is one-URL-per-host
collapsing and the downloader's per-host locks, SURVEY.md §2.2 note).

Parsing follows the de-facto standard subset a crawl scheduler needs:
the ``User-agent: *`` group's ``Disallow:`` path prefixes and
``Crawl-delay:`` seconds. Stateful line-section parsing is not
SQL-friendly, so it's one Arrow-batched pandas UDF; everything around it
(the robots-URL scan, the host join) is pure DataFrame.

The rules table is tiny (one row per robots.txt URL; the engine folds a
host's http and https rows into one) and is broadcast against the wave.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from playwrightcrawler_spark.functions import sqlfns

_RULES_SCHEMA = T.StructType([
    T.StructField("disallow_prefixes", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay_ms", T.LongType()),
])


def parse_robots(text: str) -> tuple[list[str], int | None]:
    """Disallow prefixes + crawl delay (ms) for User-agent: * (the engine
    crawls as '*'). Unknown directives ignored; empty Disallow (= allow
    all) ignored; groups for other agents skipped."""
    prefixes: list[str] = []
    delay_ms: int | None = None
    applies = False
    seen_agent_line = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            # consecutive user-agent lines share the following rule group
            if seen_agent_line:
                applies = applies or value == "*"
            else:
                applies = value == "*"
            seen_agent_line = True
            continue
        seen_agent_line = False
        if not applies:
            continue
        if key == "disallow" and value:
            prefixes.append(value)
        elif key == "crawl-delay":
            try:
                delay_ms = int(float(value) * 1000)
            except ValueError:
                pass
    return prefixes, delay_ms


@pandas_udf(_RULES_SCHEMA)
def parse_robots_udf(bodies: pd.Series) -> pd.DataFrame:
    def _decode(raw):
        if raw is None:
            return ""
        if isinstance(raw, (bytes, bytearray)):
            return bytes(raw).decode("utf-8", errors="replace")
        return raw

    rows = [parse_robots(_decode(b)) for b in bodies]
    return pd.DataFrame(rows, columns=["disallow_prefixes", "crawl_delay_ms"])


def build_robots_rules(pages: DataFrame) -> DataFrame:
    """Scan the pages table for ``/robots.txt`` rows and parse them into
    (host, disallow_prefixes, crawl_delay_ms). Hosts with no useful rules
    are dropped (absent row = everything allowed)."""
    robots = pages.filter(F.col("url").rlike(r"^https?://[^/]+/robots\.txt$"))
    # the rule columns come out of a generator, not as fields of the UDF's
    # alias, so the filter below cannot be pushed beneath it and copy the
    # UDF: each robots.txt body is parsed once
    return robots.select(
        sqlfns.host_of(F.col("url")).alias("host"),
        F.inline(F.array(parse_robots_udf(F.col("html")))),
    ).filter((F.size("disallow_prefixes") > 0) | F.col("crawl_delay_ms").isNotNull())

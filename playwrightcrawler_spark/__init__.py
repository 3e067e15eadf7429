"""playwrightcrawler_spark — a PySpark-native crawl-and-extract analytics engine.

A from-scratch reimplementation of the query / data-processing capabilities
of ``rggassner/playwrightcrawler`` (reference at ``/root/reference``) on top
of the Spark DataFrame API:

- the URL frontier is a (snapshot-versioned) parquet/Iceberg table, not an
  Elasticsearch index (reference: ``playwrightcrawler.py:1611-1666``);
- "fetching" a URL means joining the frontier against a Common-Crawl-style
  ``pages`` table (url, warc_ts, html binary, text, lang) — the live browser
  of the reference is out of scope by design (BASELINE.json ``input_hint``);
- extraction (text / links / words / open-directory) runs as Arrow-batched
  pandas UDFs — never per-row Python;
- frontier policies, dedup, politeness and cleanup are window functions,
  anti-joins and filters planned by Catalyst.

Layout:
    functions/   pure-Python parity kernels + their pandas-UDF wrappers +
                 pure-SQL column builders (routing, host/dir levels, ...)
    operators/   frontier selection, dedup (exact/minhash/simhash/cosine),
                 similarity search, text analytics, multimodal plumbing,
                 cleanup rules
    sources/     synthetic pages generator, seed ingestion, snapshot tables
    crawl/       the wave-iterated crawl engine (select → fetch → extract →
                 discover → dedup → commit)
    streaming/   Structured Streaming variant of link ingestion
    plans/       physical-plan audit helpers (pushdown / broadcast checks)
"""

from playwrightcrawler_spark import zipstamp  # noqa: F401  (per-task import cost, see module)

__version__ = "0.1.0"

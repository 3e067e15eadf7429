"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md A1).

Schema is exactly BASELINE.json's ``input_hint``:
    url string, warc_ts timestamp, html binary, text string, lang string

``text`` is the *expected* output of the engine's extractor for that html —
the per-url byte-identical invariant the pytest suite checks. Content is
seeded (default 42) and exercises every routing group, the URL-hygiene
filters, open-directory fingerprints, link resolution forms and the
word-extraction edge cases. No external data; everything is generated here.

The generator is pure Python + pyarrow (no Spark) so fixtures can be built
in tests without a session; the bench path generates larger tables through
the same row builder.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from playwrightcrawler_spark.functions import textextract

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# Binary payload prefixes per non-HTML route (magic bytes real files carry).
_BINARY_PAYLOADS = {
    "image_png": b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,
    "image_jpg": b"\xff\xd8\xff\xe0" + b"\x00" * 64,
    "image_gif": b"GIF89a" + b"\x00" * 32,
    "pdf": b"%PDF-1.7 synthetic fixture",
    "zip": b"PK\x03\x04" + b"\x00" * 32,
    "gzip": b"\x1f\x8b\x08" + b"\x00" * 32,
    "mp3": b"ID3\x04" + b"\x00" * 32,
    "midi": b"MThd" + b"\x00" * 16,
    "mp4": b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 32,
    "woff2": b"wOF2" + b"\x00" * 32,
    "torrent": b"d8:announce3:urle",
    "sqlite": b"SQLite format 3\x00" + b"\x00" * 16,
}


def _page_html(url: str, host: str, idx: int, links: list[str], rng: random.Random) -> bytes:
    """An HTML page embedding the given links plus extraction edge cases."""
    anchor_bits = "\n".join(f'<a href="{l}">link {i}</a>' for i, l in enumerate(links))
    tie_words = f"alpha{idx % 5} beta{idx % 5} alpha{idx % 5} gamma{(idx + 1) % 5}"
    long_word = "w" * 41  # excluded: > WORDS_MAX_LEN
    edge = "abc abcd " + long_word + " " + "x" * 40
    body = f"""<!DOCTYPE html>
<html><head><title>Page {idx} on {host}</title>
<script>var tracker = "{rng.randint(0, 9999)}";</script>
<style>.c{{color:#000}}</style>
</head>
<body>
<!-- comment node {idx}: bs4 find_all(string=True) includes me -->
<h1>Heading {idx}</h1>
<p>Deterministic body text for page {idx} of host {host}.
   {tie_words} {edge}</p>
<noscript>nojs</noscript>
{anchor_bits}
<img src="/static/img{idx % 3}.png">
<script src="/static/app.js"></script>
<link href="/static/site.css">
</body></html>"""
    return body.encode("utf-8")


def _opendir_html(path: str) -> bytes:
    rows = "\n".join(
        f'<a href="{path}file{i}.bin">file{i}.bin</a>' for i in range(3)
    )
    return (
        f"<html><head><title>Index of {path}</title></head><body>"
        f"<h1>Index of {path}</h1>\n"
        f'<a href="../">Parent Directory</a>\n{rows}</body></html>'
    ).encode()


def generate_rows(n_extra_hosts: int = 20, seed: int = 42) -> list[dict]:
    """Build the full fixture row list (a few hundred rows at defaults)."""
    rng = random.Random(seed)
    rows: list[dict] = []
    ts = _EPOCH

    def add(url: str, html: bytes, lang: str = "en", is_html: bool = True):
        nonlocal ts
        ts += timedelta(minutes=7)
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": html,
                "text": textextract.extract_text(html) if is_html else "",
                "lang": lang,
            }
        )

    # --- seed graph: 3 hops, cross-host links, dead links, a mega-host ----
    seeds = [f"https://seed{i}.example.org/" for i in range(4)]
    for i, seed_url in enumerate(seeds):
        host = f"seed{i}.example.org"
        links = [
            f"/hop1/page{i}.html",            # relative absolute-path
            f"./hop1/rel{i}.html",            # ./ relative
            f"../up{i}.html",                 # ../ relative
            f"https://seed{(i + 1) % 4}.example.org/cross.html",  # cross-host
            f"https://dead{i}.example.net/missing.html",          # dead link
            "htpps://typo.example.com/fixme",                     # scheme typo
            "https://mega.example.com/sec0/item0.html",           # into mega-host
            "mailto:contact@seed.example.org",
            "data:image/png;base64,AAAA",                         # embedded
            "javascript:void(0)",
            "https://www.gstatic.com/blocked.js",                 # blocked host
            "/images/images/images/images/loop.html",             # blocked URL path
            "/fonts/fonts/fonts/trap.css",                        # repeated-segment trap
            "https://seed0.example.org/page#frag",                # fragment
            "https://long.example.com/" + "a" * 4200,             # over-long
            "https://broken.example.com/latin.txt",               # invalid UTF-8 body (reachable!)
            "https://text.example.com/noext",                     # no extension → sniff path
        ]
        add(seed_url, _page_html(seed_url, host, i, links, rng))

    # hop1 + hop2 pages for each seed host (3-hop chains)
    for i in range(4):
        host = f"seed{i}.example.org"
        u1 = f"https://{host}/hop1/page{i}.html"
        add(u1, _page_html(u1, host, 10 + i, [f"/hop2/leaf{i}.html?q=v{i}&q=w{i}&empty="], rng))
        u1b = f"https://{host}/hop1/rel{i}.html"
        add(u1b, _page_html(u1b, host, 14 + i, ["/hop2/shared.html"], rng))
        u1c = f"https://{host}/up{i}.html"
        add(u1c, _page_html(u1c, host, 18 + i, [], rng))
        u2 = f"https://{host}/hop2/leaf{i}.html?q=v{i}&q=w{i}&empty="
        add(u2, _page_html(u2, host, 22 + i, [], rng))
        u2b = f"https://{host}/hop2/shared.html"
        add(u2b, _page_html(u2b, host, 26 + i, [], rng))
        add(f"https://{host}/cross.html", _page_html(f"https://{host}/cross.html", host, 30 + i, [], rng))
        add(f"https://{host}/page", _page_html(f"https://{host}/page", host, 34 + i, [], rng))

    # mega-host: many URLs on one host → politeness quota + skew salting
    for s in range(6):
        for j in range(12):
            u = f"https://mega.example.com/sec{s}/item{j}.html"
            nxt = f"/sec{s}/item{(j + 1) % 12}.html"
            other = f"/sec{(s + 1) % 6}/item{j}.html"
            add(u, _page_html(u, "mega.example.com", 100 + s * 12 + j, [nxt, other], rng))

    # open-directory positives (several families) + lookalike negative
    add("https://files.example.net/pub/", _opendir_html("/pub/"))
    add(
        "https://iis.example.net/share/",
        b'<html><body><pre>[To Parent Directory]</A><br></pre></body></html>',
    )
    add(
        "https://s3.example.net/bucket/",
        b'<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/"><Name>b</Name></ListBucketResult>',
    )
    add(
        "https://h5ai.example.net/data/",
        b"<html><body>powered by h5ai</body></html>",
    )
    add(
        "https://notdir.example.net/article",
        b"<html><body><p>An essay about the Index of economic freedom</p></body></html>",
    )

    # deep path (>7 segments) and deep subdomain (>7 labels)
    deep_u = "https://a.b.c.d.e.f.g.h.deep.example.com/l1/l2/l3/l4/l5/l6/l7/l8/l9/page.html"
    add(deep_u, _page_html(deep_u, "a.b.c.d.e.f.g.h.deep.example.com", 400, [], rng))

    # non-HTML payloads: one URL per routing family
    binaries = [
        ("https://cdn.example.com/assets/logo.png", "image_png"),
        ("https://cdn.example.com/assets/photo.jpg", "image_jpg"),
        ("https://cdn.example.com/assets/anim.gif", "image_gif"),
        ("https://docs.example.com/manual.pdf", "pdf"),
        ("https://dl.example.com/bundle.zip", "zip"),
        ("https://dl.example.com/dump.sql.gz", "gzip"),
        ("https://media.example.com/song.mp3", "mp3"),
        ("https://media.example.com/tune.mid", "midi"),
        ("https://media.example.com/clip.mp4", "mp4"),
        ("https://cdn.example.com/fonts/main.woff2", "woff2"),
        ("https://tracker.example.com/seed.torrent", "torrent"),
        ("https://data.example.com/db.sqlite", "sqlite"),
        # lying extension: .png name over PDF bytes → ext_consistent=false
        # (the fast-extension pass and R15's consistency check catch it)
        ("https://cdn.example.com/assets/fake.png", "pdf"),
    ]
    for u, kind in binaries:
        add(u, _BINARY_PAYLOADS[kind], is_html=False)

    # lying extension the OTHER way: .png name over HTML bytes — the
    # reference fast pass falls back to the full crawler (get_page) on a
    # content-type mismatch (playwrightcrawler.py:4826-4860), so this page
    # must still get extraction + link discovery in the fast pass
    add(
        "https://cdn.example.com/assets/page.png",
        b"<html><body><p>disguised page words here</p>"
        b'<a href="https://hidden.example.org/found.html">x</a></body></html>',
    )

    # plain-text / JSON payloads (words extracted, not HTML-walked)
    add(
        "https://api.example.com/data.json",
        b'{"alpha": "value words here", "count": 42}',
        is_html=False,
    )
    add(
        "https://text.example.com/readme.txt",
        "plain text words fixture naïve café words words\n".encode(),
        is_html=False,
    )
    # broken encoding (chardet path analogue: utf-8 replacement decode);
    # linked from every seed page, so the decode path is actually exercised
    add("https://broken.example.com/latin.txt", b"caf\xe9 broken bytes", is_html=False)
    # extensionless URL whose 256-byte sniff prefix cuts a multibyte char in
    # half (é spans bytes 256-257): a strict ANSI decode of the prefix would
    # abort the wave — the sniff must use replacement decoding
    noext_body = ("x" * 255 + "é une page de texte en français ").encode("utf-8")
    assert noext_body[255] == 0xC3 and noext_body[256] == 0xA9  # é straddles the cut
    add("https://text.example.com/noext", noext_body + b"mots " * 20, is_html=False)

    # non-UTF-8 pages (X5 charset ladder; reference chardet path): a
    # cp1252 html page with a declared meta charset, and a Shift-JIS text
    # file only the detector rung can catch
    latin1_html = (
        '<html><head><meta charset="windows-1252"></head>'
        "<body><p>déjà vu français à côté</p></body></html>"
    ).encode("cp1252")
    add("https://intl.example.com/latin1.html", latin1_html)
    add("https://intl.example.com/sjis.txt",
        "こんにちは世界、テスト".encode("shift_jis"), is_html=False)

    # robots.txt rows (north_rule compliance; never linked — the engine
    # finds them by scanning the pages table for /robots.txt paths)
    add(
        "https://mega.example.com/robots.txt",
        b"User-agent: *\nDisallow: /sec3/\nCrawl-delay: 1\n",
        is_html=False,
    )
    add(
        "https://seed1.example.org/robots.txt",
        b"User-agent: googlebot\nDisallow: /\n\n"
        b"User-agent: *\nDisallow: /hop1/\nDisallow: /hop2/\n",
        is_html=False,
    )
    add(
        "https://seed2.example.org/robots.txt",
        b"User-agent: *\nDisallow:\n",  # allow-all: must yield NO rules row
        is_html=False,
    )

    # extra long-tail hosts, a few pages each, random-ish interlinks
    for h in range(n_extra_hosts):
        host = f"tail{h:03d}.example.io"
        for p in range(3):
            u = f"https://{host}/p{p}.html"
            targets = [
                f"/p{(p + 1) % 3}.html",
                f"https://tail{(h + 1) % n_extra_hosts:03d}.example.io/p0.html",
            ]
            add(u, _page_html(u, host, 500 + h * 3 + p, targets, rng))

    return rows


def rows_to_table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )


def write_pages_fixture(path: str, n_extra_hosts: int = 20, seed: int = 42) -> int:
    """Write the fixture parquet; returns row count."""
    rows = generate_rows(n_extra_hosts=n_extra_hosts, seed=seed)
    pq.write_table(rows_to_table(rows), path)
    return len(rows)


_FIXTURE_PATH: str | None = None


def fixture_path() -> str:
    """Content-addressed /tmp path for the default fixture parquet: the
    filename embeds a digest of the generated rows, so any change to the
    generator or the extraction kernels it calls produces a NEW path and a
    stale cached parquet can never be read again (a hand-bumped version
    suffix silently desynced in round 4). Consumers (queries, oracles)
    must share this one path source."""
    global _FIXTURE_PATH
    if _FIXTURE_PATH is None:
        import hashlib
        import os
        import tempfile

        h = hashlib.sha256()
        for r in generate_rows():
            h.update(r["url"].encode())
            h.update(r["html"])
            h.update(r["text"].encode())
        _FIXTURE_PATH = os.path.join(
            tempfile.gettempdir(), f"pwc_fixture_pages_{h.hexdigest()[:16]}.parquet"
        )
    return _FIXTURE_PATH


def seed_urls() -> list[str]:
    """The pinned ordered seed list (FIXTURES.md A2)."""
    return [f"https://seed{i}.example.org/" for i in range(4)] + [
        "https://mega.example.com/sec0/item0.html",
        "https://files.example.net/pub/",
        "https://cdn.example.com/assets/logo.png",
        "https://api.example.com/data.json",
        "https://tail000.example.io/p0.html",
        "https://dead-seed.example.net/nowhere.html",
    ]


# ---------------------------------------------------------------------------
# Bench-scale corpus: generated BY Spark (parallel, deterministic in the row
# id), so building a 10^5-10^6-page table takes seconds and the same recipe
# scales to the 10^10 design point on a cluster.
# ---------------------------------------------------------------------------

_FILLER = (
    "crawl frontier schedule politeness budget extract parse token "
    "shuffle partition broadcast join window dedup bloom filter snapshot "
    "lineage resume checkpoint throughput latency vector similarity "
)


def write_pages_scaled(
    spark,
    path: str,
    n_hosts: int = 2000,
    pages_per_host: int = 15,
    paragraphs: int = 12,
    include_assets: bool = True,
    next_links: int = 3,
    n_files: int | None = None,
    url_buckets: int | None = None,
) -> int:
    """Deterministic link graph: page p on host h links to the next page on
    its host, two hash-derived cross-host pages, and static assets. HTML is
    a few KB so the extraction UDF does realistic work.

    ``n_files``: range-partition the output by url into this many files.
    Scan-split granularity IS extraction parallelism (the engine fuses the
    pandas-UDF extraction into the scan stage), and parquet effectively
    splits at row-group boundaries — a handful of single-row-group files
    caps the whole crawl at that many tasks no matter the core count.
    Range partitioning (not round-robin) keeps the host-clustered layout a
    Common-Crawl-style corpus really has.

    ``url_buckets``: ALSO hive-partition the table by
    ``url_bucket = pmod(xxhash64(url), url_buckets)`` and drop a
    ``_pwc_url_buckets.json`` marker so the engine can push each wave's
    bucket membership into the scan as a PartitionFilter — the
    wave-membership pruning lever for the per-wave pages scan (at 10^10
    pages a wave touches <= wave_size urls, so reading every file each
    wave is the scan-side scale killer). Within each bucket the layout
    stays range-clustered by url when ``n_files`` is set."""
    from pyspark.sql import functions as F

    n = n_hosts * pages_per_host
    df = (
        spark.range(n)
        .withColumn("h", (F.col("id") / pages_per_host).cast("long"))
        .withColumn("p", F.col("id") % pages_per_host)
    )
    host = F.format_string("host%05d.bench.example", F.col("h"))
    url = F.format_string("https://host%05d.bench.example/p%d.html", F.col("h"), F.col("p"))
    body = F.format_string(
        "<html><head><title>bench %d</title><script>var x=%d;</script></head>"
        "<body><h1>Page %d of host%05d</h1>"
        + ("<p>" + _FILLER + "page %d token %d</p>") * paragraphs
        + "".join(f'<a href="/p%d.html">n{k}</a>' for k in range(next_links))
        + '<a href="https://host%05d.bench.example/p0.html">x1</a>'
        + '<a href="https://host%05d.bench.example/p1.html">x2</a>'
        + ('<img src="/static/i%d.png"><script src="/static/a.js"></script>'
           if include_assets else "")
        + "</body></html>",
        F.col("id"), F.col("id"), F.col("p"), F.col("h"),
        *[x for i in range(paragraphs) for x in (F.col("id") + i, F.col("p") + i)],
        *[(F.col("p") + 1 + k) % pages_per_host for k in range(next_links)],
        (F.col("h") * 7 + F.col("p") + 1) % n_hosts,
        (F.col("h") * 13 + 3) % n_hosts,
        *([F.col("p") % 5] if include_assets else []),
    )
    out = df.select(
        url.alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
        F.encode(body, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )
    # static assets referenced by the pages (5 PNGs + 1 JS per host) so
    # every discovered link resolves — fetch-misses would otherwise skew
    # the throughput metric and under-exercise the binary routes
    assets = (
        spark.range(n_hosts * 6)
        .withColumn("h", (F.col("id") / 6).cast("long"))
        .withColumn("a", F.col("id") % 6)
        .select(
            F.when(
                F.col("a") < 5,
                F.format_string("https://host%05d.bench.example/static/i%d.png", F.col("h"), F.col("a")),
            ).otherwise(
                F.format_string("https://host%05d.bench.example/static/a.js", F.col("h"))
            ).alias("url"),
            (F.lit(_EPOCH) + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
            F.when(
                F.col("a") < 5,
                F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), F.encode(F.repeat(F.lit("p"), 64), "UTF-8")),
            ).otherwise(F.encode(F.lit("function bench(){return 1;}"), "UTF-8")).alias("html"),
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    if include_assets:
        out = out.unionByName(assets)
        n += n_hosts * 6
    if url_buckets:
        out = out.withColumn(
            "url_bucket",
            F.pmod(F.xxhash64("url"), F.lit(url_buckets)).cast("int"),
        )
        if n_files:
            # range-cluster by url WITHIN each bucket: the dynamic-partition
            # write splits each task's rows across its buckets, so file
            # count ~= n_files spread over the buckets it intersects
            out = out.repartitionByRange(n_files, "url_bucket", "url")
        out.write.mode("overwrite").partitionBy("url_bucket").parquet(path)
        write_bucket_marker(path, url_buckets)
        return n
    if n_files:
        out = out.repartitionByRange(n_files, "url")
    out.write.mode("overwrite").parquet(path)
    return n


_BUCKET_MARKER = "_pwc_url_buckets.json"


def write_bucket_marker(path: str, url_buckets: int) -> None:
    """Record the bucket modulus next to the data (underscore-prefixed, so
    parquet readers ignore it): the engine must hash wave urls with the
    SAME modulus the writer used or the pruning filter silently drops
    pages."""
    import json

    with open(os.path.join(path, _BUCKET_MARKER), "w") as fh:
        json.dump({"url_buckets": int(url_buckets),
                   "hash": "pmod(xxhash64(url), url_buckets)"}, fh)


def read_bucket_marker(spark, path: str) -> int | None:
    """url_buckets modulus of a bucketed pages table, or None when the
    table is unbucketed (no marker). Read through the Hadoop FileSystem
    API, so a plain path and any URI Spark reads (file://, hdfs://, s3a://)
    find the same marker; no Spark job runs."""
    import json

    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(path, _BUCKET_MARKER)
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(json.loads(text)["url_buckets"])


def bench_all_page_urls(n_hosts: int, pages_per_host: int) -> list[str]:
    """Every page URL in the scaled corpus — used to pre-populate the
    frontier for throughput benches (S5 seed-file ingestion at scale)."""
    return [
        f"https://host{h:05d}.bench.example/p{k}.html"
        for h in range(n_hosts)
        for k in range(pages_per_host)
    ]


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pages.parquet"
    n = write_pages_fixture(out)
    print(f"wrote {n} rows to {out}")

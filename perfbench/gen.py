"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is built here from ``--seed``;
the same seed gives byte-identical tables, another seed different ones.
Pure Python + pyarrow + numpy, no Spark, so set-up cost is the same work
on every run and the generator can be tested without a JVM.

Three inputs:

- heavy pages: ~100 KB pages with 7 links each, all pointing back into
  the corpus (crawl_extract: extraction-bound, discovery adds nothing);
- light pages: 2-5 KB pages with dozens of links of every kind the
  link pipeline classifies — relative, cross-host, assets, mailto and
  junk — plus a few mega-hosts so the per-host quota binds
  (crawl_discover: link pipeline, seen-set and frontier commits);
- ``analytics_tables``: the star schema + documents/embeddings/events
  tables the analytics query set reads.

Pages tables carry the engine's input columns (url, warc_ts, html, text,
lang) plus ``bench_links``: the number of distinct non-mailto hrefs the
generator wrote into the page. The engine reads only url and html;
the benchmark uses ``bench_links`` as its own count of links seen.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_COMMON = (
    "the of and to in is that for it as was with be by on not he this are or "
    "his from at which but have an they you were her she there one all we "
    "their can has more will would about if when what so up out into than "
    "them only other new some could time these two may then do first any "
    "now such like our over man also did after most made well where should"
).split()

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("bench_links", pa.int32()),
])


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set(_COMMON)
    out = list(_COMMON)
    while len(out) < n:
        w = "".join(rng.choice(_ALPHA) for _ in range(rng.randint(4, 11)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _paragraphs(rng: random.Random, vocab: list[str], n: int, lo: int, hi: int) -> list[str]:
    # Zipf-like word draw: common words dominate, as in real text
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    return [
        " ".join(rng.choices(vocab, weights=weights, k=rng.randint(lo, hi)))
        for _ in range(n)
    ]


def _page(title: str, paras: list[str], anchors: list[str]) -> bytes:
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    links = "\n".join(anchors)
    return (
        f"<!DOCTYPE html>\n<html><head><title>{title}</title>"
        f"<script>var cfg = {{page: \"{title}\"}};</script>"
        f"<style>.c{{color:#222}}</style></head>\n<body><h1>{title}</h1>\n"
        f"{body}<nav>\n{links}\n</nav></body></html>"
    ).encode("utf-8")


def _n_hrefs(anchors: list[str]) -> int:
    """Distinct non-mailto hrefs: what the extraction kernel harvests and
    the wave's link pipeline sees."""
    hrefs = {a.split('"', 2)[1] for a in anchors}
    return sum(1 for h in hrefs if not h.startswith("mailto:"))


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in PAGES_SCHEMA]
    return pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(PAGES_SCHEMA, cols)},
        schema=PAGES_SCHEMA,
    )


def write_rows(rows: list[tuple], path: str, n_files: int) -> None:
    """Range-split page rows into ``n_files`` files, one row group each:
    scan splits (and so extraction tasks) follow row groups."""
    os.makedirs(path, exist_ok=True)
    table = _table(rows)
    n = table.num_rows
    per = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           row_group_size=part.num_rows)


# --------------------------------------------------------------- heavy pages
def heavy_page_rows(seed: int, n_hosts: int, pages_per_host: int,
                    kb: int = 100) -> list[tuple]:
    """~``kb`` KB pages, 5 same-host + 2 cross-host links each, every link
    a corpus page. Host names carry the seed so frontiers differ per seed."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    pool = _paragraphs(rng, vocab, 300, 60, 140)
    rows = []
    for h in range(n_hosts):
        host = f"h{h:04d}.s{seed}.heavy.example"
        for k in range(pages_per_host):
            url = f"https://{host}/p{k}.html"
            anchors = [
                f'<a href="/p{(k + j) % pages_per_host}.html">next {j}</a>'
                for j in range(1, 6)
            ]
            for j in range(2):
                oh = rng.randrange(n_hosts)
                anchors.append(
                    f'<a href="https://h{oh:04d}.s{seed}.heavy.example/'
                    f'p{rng.randrange(pages_per_host)}.html">x{j}</a>'
                )
            paras, size = [], 0
            while size < kb * 1024:
                p = rng.choice(pool)
                paras.append(p)
                size += len(p) + 8
            html = _page(f"heavy {h} {k} {rng.randrange(10**9)}", paras, anchors)
            ts = _EPOCH + timedelta(seconds=len(rows))
            rows.append((url, ts, html, "", "en", _n_hrefs(anchors)))
    return rows


def heavy_urls(seed: int, n_hosts: int, pages_per_host: int) -> list[str]:
    return [
        f"https://h{h:04d}.s{seed}.heavy.example/p{k}.html"
        for h in range(n_hosts) for k in range(pages_per_host)
    ]


# --------------------------------------------------------------- light pages
# junk hrefs, one per link-hygiene drop reason the default config can fire
# (`invalid` and `not_allowed` cannot: urljoin against an http parent never
# yields "", and the default host allow-list is ".*")
_JUNK = {
    "embedded": ['javascript:void(0)', 'data:text/plain;base64,SGVsbG8='],
    "no_host": ['file:///etc/hosts', 'http:///'],
    "blocked_host": ['https://fonts.gstatic.com/s/font{n}.woff2'],
    "blocked_url": ['/images/images/images/images/banner{n}.png'],
    "repeated_segments": ['/a/b/a/b/a/b/a/b/p{n}.html'],
}


def _light_layout(seed: int, n_hosts: int, pages_per_host: int,
                  n_mega: int, mega_pages: int):
    hosts = [f"l{h:04d}.s{seed}.light.example" for h in range(n_hosts)]
    megas = [f"a-mega{m}.s{seed}.light.example" for m in range(n_mega)]
    sizes = [pages_per_host] * n_hosts + [mega_pages] * n_mega
    return hosts + megas, sizes


def _light_path(k: int) -> str:
    # a few directory levels so relative links resolve to varied paths
    return f"/d{k % 4}/p{k}.html" if k % 3 else f"/p{k}.html"


def light_page_rows(seed: int, n_hosts: int = 400, pages_per_host: int = 20,
                    n_mega: int = 3, mega_pages: int = 600,
                    links: tuple[int, int] = (24, 48)) -> list[tuple]:
    """2-5 KB pages with ``links`` (min, max) hrefs each: same-host relative
    and absolute links, cross-host links (biased toward the mega-hosts),
    assets, mailto addresses and the junk of ``_JUNK``. About 1 link in 25
    points at one of 5 hosts outside the corpus (a fetch miss when
    crawled); 1 page in 25 carries a >4096-character href (the
    ``too_long`` drop). Binary asset rows (png/css) complete the corpus so
    asset links fetch. Mega-hosts (``a-mega*``) and dead hosts
    (``b-gone*``) sort first, so a url-ordered frontier policy reaches
    them in every wave and the per-host quota binds on them."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 2000)
    pool = _paragraphs(rng, vocab, 200, 15, 45)
    hosts, sizes = _light_layout(seed, n_hosts, pages_per_host, n_mega, mega_pages)
    rows = []
    n_all = len(hosts)

    def ts():
        return _EPOCH + timedelta(seconds=len(rows))

    for hi, host in enumerate(hosts):
        n_pages = sizes[hi]
        for k in range(n_pages):
            url = f"https://{host}{_light_path(k)}"
            anchors = []
            n_links = rng.randint(*links)
            for _ in range(n_links):
                r = rng.random()
                if r < 0.30:  # same host, relative forms
                    t = rng.randrange(n_pages)
                    href = rng.choice([
                        _light_path(t), f"p{t}.html", f"../d{t % 4}/p{t}.html",
                        f"./p{t}.html#frag",
                    ])
                elif r < 0.62:  # cross-host absolute (mega-hosts favoured)
                    oh = rng.randrange(n_all) if rng.random() < 0.7 else n_all - 1 - rng.randrange(n_mega)
                    href = f"https://{hosts[oh]}{_light_path(rng.randrange(sizes[oh]))}"
                elif r < 0.66:  # outside the corpus: fetch miss
                    href = f"https://b-gone{rng.randrange(5)}.s{seed}.light.example/x{rng.randrange(400)}.html"
                elif r < 0.78:  # assets
                    href = rng.choice([f"/static/i{k % 5}.png", "/static/site.css"])
                elif r < 0.88:  # mailto: email rows, never frontier rows
                    who = "".join(rng.choice(_ALPHA) for _ in range(6))
                    href = rng.choice([f"mailto:{who}@{host}", f"mailto:{who}@bad"])
                else:  # junk: every reachable drop reason
                    kind = rng.choice(sorted(_JUNK))
                    href = rng.choice(_JUNK[kind]).format(n=rng.randrange(50))
                anchors.append(f'<a href="{href}">l{len(anchors)}</a>')
            if k % 25 == 7:
                anchors.append(f'<a href="/long/{"q" * 4200}">long</a>')
            paras = rng.sample(pool, rng.randint(3, 8))
            html = _page(f"light {hi} {k}", paras, anchors)
            rows.append((url, ts(), html, "", "en", _n_hrefs(anchors)))
        for i in range(5):
            rows.append((f"https://{host}/static/i{i}.png", ts(),
                         b"\x89PNG\r\n\x1a\n" + bytes(rng.randrange(256) for _ in range(48)),
                         "", "en", 0))
        rows.append((f"https://{host}/static/site.css", ts(),
                     b"body { color: #111; }\n", "", "en", 0))
    # host-clustered layout, like a crawl archive
    rows.sort(key=lambda r: r[0])
    return rows


def light_seed_urls(seed: int, n_seeds: int, n_hosts: int, n_mega: int,
                    per_mega: int = 20, n_dead: int = 5) -> list[str]:
    """Frontier seeds: the first ``per_mega`` pages of every mega-host (so
    the per-host quota binds in the first wave), one url on each dead
    host (fetch misses), then page 0 of evenly spaced hosts."""
    urls = [
        f"https://a-mega{m}.s{seed}.light.example{_light_path(k)}"
        for m in range(n_mega) for k in range(per_mega)
    ] + [f"https://b-gone{d}.s{seed}.light.example/x0.html" for d in range(n_dead)]
    rest = max(0, n_seeds - len(urls))
    step = max(1, n_hosts // max(1, rest))
    urls += [f"https://l{h:04d}.s{seed}.light.example/p0.html"
             for h in range(0, n_hosts, step)][:rest]
    return urls[:n_seeds]


# ---------------------------------------------------------- analytics tables
def analytics_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The tables bench.HEADLINE reads, with the schemas of the repo's
    TPC-H-ish test data. ``scale`` 1.0 = 40k lineitem, 1.5k documents."""
    rng = np.random.default_rng(seed)
    n_cust = int(2000 * scale)
    n_ord = int(10000 * scale)
    n_li = int(40000 * scale)
    n_ev = int(20000 * scale)
    n_doc = int(1500 * scale)
    n_emb = int(1000 * scale)

    base = datetime(1992, 1, 1)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    # ~1/3 of customers never order, so the anti-join has output
    buyers = rng.choice(n_cust, size=max(1, 2 * n_cust // 3), replace=False)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.choice(buyers, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": pa.array(base + rng.integers(0, 2400, n_ord) * timedelta(days=1),
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(base + rng.integers(0, 2500, n_li) * timedelta(days=1),
                               type=pa.timestamp("us")),
    })
    ev_base = datetime(2024, 1, 1)
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_base + rng.integers(0, 86400 * 30 * 10**6, n_ev) * timedelta(microseconds=1),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.zipf(1.6, n_ev).clip(1, 2000).astype(np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "error", "purchase"], n_ev)),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n_ev)]),
    })
    prng = random.Random(seed)
    vocab = _vocab(prng, 1200)
    langs = ["en", "fr", "de", "es", "zh"]
    stop = {"fr": "le la les des et est", "de": "der die und ist das",
            "es": "el los las y es que", "zh": "的 是 在 了 和"}
    texts, dlangs = [], []
    for i in range(n_doc):
        lang = langs[i % 5]
        words = prng.choices(vocab, k=prng.randint(30, 90))
        if lang in stop:
            words += stop[lang].split() * 3
            prng.shuffle(words)
        texts.append(" ".join(words) + " ")
        dlangs.append(lang)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(dlangs),
        "source": pa.array([f"src{i % 7}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_emb, dtype=np.int32)),
    })
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


def write_analytics_tables(sf_dir: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in analytics_tables(seed, scale).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))

#!/usr/bin/env python3
"""Profile the fused extraction kernel (udfs._extract_page_row) on real
bench-fixture pages, outside Spark — interference-tolerant relative
numbers for kernel optimization.

Usage: python scripts/kernel_profile.py [N_PAGES] [--cprofile]
"""
import sys
import time
from pathlib import Path

import pyarrow.dataset as ds

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURE = "/tmp/pwc_bench_pages_4000x15x500x240.parquet"


def load_pages(n):
    data = ds.dataset(FIXTURE).head(n, columns=["url", "html"])
    return data.column("url").to_pylist(), data.column("html").to_pylist()


def kernel(urls, payloads):
    from playwrightcrawler_spark.functions.udfs import _extract_page_row

    return [_extract_page_row(raw, url) for raw, url in zip(payloads, urls)]


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 300
    urls, payloads = load_pages(n)
    sz = sum(len(p) for p in payloads) / n
    kernel(urls[:20], payloads[:20])  # warm imports/regex caches
    if "--cprofile" in sys.argv:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        kernel(urls, payloads)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
    else:
        t0 = time.perf_counter()
        kernel(urls, payloads)
        dt = time.perf_counter() - t0
        print(f"pages={n} avg_page_bytes={sz:.0f} total_s={dt:.3f} "
              f"ms_per_page={1000 * dt / n:.2f}")


if __name__ == "__main__":
    main()

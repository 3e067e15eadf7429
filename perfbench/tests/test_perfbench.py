"""The benchmark's own tests: generator determinism, the metric contract
with BENCHMARK.json, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _pages_bytes(tmp_path: Path, name: str, rows) -> list[bytes]:
    out = tmp_path / name
    gen.write_rows(rows, str(out), n_files=2)
    return [p.read_bytes() for p in sorted(out.glob("*.parquet"))]


@pytest.mark.parametrize("make", [
    lambda seed: gen.heavy_page_rows(seed, n_hosts=3, pages_per_host=4, kb=4),
    lambda seed: gen.light_page_rows(seed, n_hosts=6, pages_per_host=4, n_mega=1, mega_pages=8),
], ids=["heavy", "light"])
def test_pages_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = _pages_bytes(tmp_path, "a", make(7))
    b = _pages_bytes(tmp_path, "b", make(7))
    c = _pages_bytes(tmp_path, "c", make(8))
    assert a == b
    assert a != c


def test_analytics_tables_deterministic():
    a = gen.analytics_tables(5, scale=0.05)
    b = gen.analytics_tables(5, scale=0.05)
    c = gen.analytics_tables(6, scale=0.05)
    assert all(a[n].equals(b[n]) for n in a)
    assert any(not a[n].equals(c[n]) for n in a)


def test_light_pages_cover_link_kinds():
    rows = gen.light_page_rows(3, n_hosts=6, pages_per_host=25, n_mega=1, mega_pages=30)
    html = b"".join(r[2] for r in rows)
    for marker in (b"mailto:", b"javascript:", b"file:///", b"gstatic.com",
                   b"/images/images/images/images/", b"/a/b/a/b/a/b/", b"q" * 4097,
                   b"../", b"gone"):
        assert marker in html, marker


def test_metric_names_match_benchmark_json():
    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.SHAPES)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in BENCH["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in BENCH["per_layer"])


def test_workloads_split_every_query_between_them():
    shapes = workloads.SHAPES.values()
    assert sorted(q for s in shapes for q in s.analytics) == sorted(workloads.HEADLINE)
    assert {q for s in shapes for q in s.reads} == set(workloads.READS)


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    p = _run(tmp_path, "--workload", "crawl_extract", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("name,trace", [
    ("crawl_extract", 0), ("crawl_discover", 0), ("crawl_discover", 1),
])
def test_tiny_smoke_run(name, trace):
    p = _run(ROOT, "--workload", name, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, p.stdout[-2000:]
    want = run.per_layer_names() if trace else list(run.END_TO_END)
    assert list(out["metrics"]) == want
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]
    assert not (ROOT / ".perfbench_work").exists()

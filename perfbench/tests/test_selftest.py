"""Self-test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each case runs ``perfbench/run.py`` in a subprocess, as the benchmark is
run for real, and checks the output contract: every metric BENCHMARK.json
names is printed with its unit, a clean run has no failures, and a
deliberately corrupted output raises failed_ratio above 0.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)$")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# crawl_full is runnable but not in BENCHMARK.json (see perfbench/run.py)
ALL_WORKLOADS = ["crawl_full"] + WORKLOADS
CORRUPTION = {"crawl_full": "drop_doc", "crawl_daily": "drop_doc", "query_mix": "change_row"}


def run(workload: str, *extra: str, cwd: str = ROOT, script: str = RUN):
    p = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p


def result(p) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    printed = {m[1]: (float(m[2]), m[3]) for m in map(LINE.match, lines) if m}
    return res, printed


def assert_metrics(res: dict, printed: dict, specs: list[dict]) -> None:
    assert set(res["metrics"]) == {s["name"] for s in specs}
    for s in specs:
        assert res["metrics"][s["name"]]["unit"] == s["unit"]
        assert printed[s["name"]][1] == s["unit"]
    assert printed["failed_ratio"][0] == pytest.approx(res["failed"] / res["attempted"], rel=1e-5)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_clean_run_prints_every_metric_and_passes(workload):
    res, printed = result(run(workload, "--trace", "0"))
    assert_metrics(res, printed, BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["attempted"] > 0 and res["failed"] == 0 and res["correct"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_counted_as_failed(workload):
    res, printed = result(run(workload, "--trace", "0", "--corrupt", CORRUPTION[workload]))
    assert_metrics(res, printed, BENCH["end_to_end"])
    assert res["failed"] > 0 and not res["correct"]
    assert printed["failed_ratio"][0] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    res, printed = result(run(workload, "--trace", "1"))
    assert_metrics(res, printed, BENCH["per_layer"])
    assert res["failed"] == 0


def test_crawl_check_compares_search_page_urls():
    """A search page fetched under another url in the same canonical slot
    (say a hand-built ?page=N instead of the next-button link) fails."""
    from types import SimpleNamespace

    sys.path.insert(0, ROOT)
    from perfbench.crawl import check

    listing, page = "https://site/detail/1/", "https://site/zoeken/?search_result=2"
    spans = [("text", "t", None, 0)]
    sim = SimpleNamespace(
        crawl_log=[(page, "search", 1, 0, 0, "c"), (listing, "listing", 1, 1, 0, "c")],
        seen_urls={listing}, spans_by_doc={listing: spans})
    out = {"seen": {listing}, "docs": {listing: (1, spans)},
           "log": [(page, "c", 1, 0, 0), (listing, "c", 1, 1, 0)]}
    assert check(out, sim) == (2, 0)
    out["log"][0] = ("https://site/zoeken/?page=2", "c", 1, 0, 0)
    assert check(out, sim) == (2, 1)


def test_per_layer_list_matches_the_code():
    sys.path.insert(0, ROOT)
    from perfbench.layers import metric_specs

    assert BENCH["per_layer"] == metric_specs()


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files the run must fail fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = run(WORKLOADS[0], "--trace", "0", cwd=str(tmp_path),
            script=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert not p.stdout.strip()

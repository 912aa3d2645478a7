"""Smoke test of the benchmark itself, at a tiny size.

Pins that every named metric prints with its unit, that the result object
has exactly its four keys, and that the correctness gate trips (nonzero exit,
``correct: false``) when an expectation is corrupted. Needs Spark; run with
``python3 -m pytest perfbench/test_smoke.py``.
"""

from __future__ import annotations

import json
import re

import pytest

from perfbench import run
from perfbench.schema import END_TO_END, PER_LAYER, WORKLOAD_EXTRAS
from perfbench.workloads import CrawlShape, FrontierShape, UrlSpace

TINY = {
    "tiny_crawl": (
        "crawl",
        CrawlShape(
            n_hosts=6, base_pages=30, seeds_per_host=2, budget=4, warm_waves=1,
            max_ops=1, media_id_space=20, heap_mb=1024, heap_floor_mb=1024,
        ),
    ),
    "tiny_frontier": (
        "frontier",
        FrontierShape(
            n_rows=2000, candidates=1000, bloom_min_frontier=1000, n_cold_hosts=50,
            max_ops=1, heap_mb=1024, heap_floor_mb=1024,
        ),
    ),
}

LINE = re.compile(r"^(metric|layer) (\S+) = (\S+) (\S+)$")


def _run(capsys, workload: str, trace: int) -> tuple[int, dict, dict]:
    rc = run.main(
        ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        shape_overrides=TINY,
    )
    out = capsys.readouterr().out.strip().splitlines()
    printed = {}
    for line in out:
        m = LINE.match(line)
        if m:
            printed[m.group(2)] = m.group(4)
    return rc, printed, json.loads(out[-1])


def _assert_result_shape(result: dict, metrics: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(metrics)
    for name, unit in metrics.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], (int, float))


def test_traced_crawl_prints_every_metric_with_its_unit(capsys):
    rc, printed, result = _run(capsys, "tiny_crawl", trace=1)
    assert rc == 0
    assert result["correct"] is True and result["failed"] == 0
    want = {**END_TO_END, **WORKLOAD_EXTRAS["crawl"], **PER_LAYER}
    assert printed == want
    _assert_result_shape(result, PER_LAYER)


def test_gate_trips_on_corrupted_dequeue_expectation(capsys, monkeypatch):
    honest = UrlSpace.host_counts

    def corrupted(self, n):
        counts = honest(self, n)
        counts["hot.test"] = 1  # the real hot host holds far more rows
        return counts

    monkeypatch.setattr(UrlSpace, "host_counts", corrupted)
    rc, printed, result = _run(capsys, "tiny_frontier", trace=0)
    assert rc != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert printed == {**END_TO_END, **WORKLOAD_EXTRAS["frontier"]}
    _assert_result_shape(result, END_TO_END)


def test_gate_trips_on_corrupted_crawl_order(capsys, monkeypatch):
    import tests.oracle as oracle

    honest = oracle.oracle_crawl

    def corrupted(*args, **kwargs):
        res = honest(*args, **kwargs)
        key = max(res.crawl_order)  # some (wave, host, rank) of the last wave
        res.crawl_order[key] = res.crawl_order[key] + "#wrong"
        return res

    monkeypatch.setattr(oracle, "oracle_crawl", corrupted)
    rc, _, result = _run(capsys, "tiny_crawl", trace=0)
    assert rc != 0
    assert result["correct"] is False and result["failed"] == 1
    _assert_result_shape(result, END_TO_END)


@pytest.fixture(autouse=True)
def _fresh_out_dir(tmp_path, monkeypatch):
    # keep smoke-run records out of the benchmark's own output directory
    monkeypatch.setattr(run, "OUT", tmp_path / "out")

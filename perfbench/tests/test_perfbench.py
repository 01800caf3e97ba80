"""Tests of the benchmark itself, at tiny scale.

    python -m pytest perfbench/tests -q

The smoke test starts Spark twice (about two minutes on four cores).
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import layers  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

TINY = 0.05
MARKER = "#gtfs-file:"


def _tiny(name: str) -> wl.Workload:
    return wl.WORKLOADS[name].scaled(TINY)


def _digest(table) -> str:
    h = hashlib.sha256()
    for row in table.to_pylist():
        h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


def _placement(table) -> dict:
    """Where the seed puts things: row positions of near-misses, the
    (url, warc_ts) of every older re-crawl, and the noise text."""
    rows = table.to_pylist()
    newest: dict[str, object] = {}
    for r in rows:
        newest[r["url"]] = max(newest.get(r["url"], r["warc_ts"]), r["warc_ts"])
    return {
        "near_miss_rows": [
            i for i, r in enumerate(rows)
            if r["text"].startswith(MARKER) and "feed=feed-" not in r["text"].split("\n", 1)[0]
            and "feed=junk-" not in r["text"].split("\n", 1)[0]
        ],
        "recrawls": sorted(
            (r["url"], r["warc_ts"]) for r in rows
            if r["url"].startswith("https://transit.") and r["warc_ts"] != newest[r["url"]]
        ),
        "noise": sorted(r["text"] for r in rows if not r["text"].startswith(MARKER)),
    }


def _newest_feed_pages(table) -> dict[str, str]:
    """url -> text of the newest crawl of every feed page: all the
    pipeline's output depends on."""
    best: dict[str, tuple] = {}
    for r in table.to_pylist():
        if r["url"].startswith("https://transit."):
            if r["url"] not in best or r["warc_ts"] > best[r["url"]][0]:
                best[r["url"]] = (r["warc_ts"], r["text"])
    return {u: t for u, (_, t) in best.items()}


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_same_seed_same_pages(name):
    w = _tiny(name)
    assert _digest(wl.pages_table(w, 7)) == _digest(wl.pages_table(w, 7))


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_seed_moves_placement_not_expected_output(name):
    w = _tiny(name)
    a, b = wl.pages_table(w, 1), wl.pages_table(w, 2)
    pa_, pb = _placement(a), _placement(b)
    assert pa_["near_miss_rows"] != pb["near_miss_rows"]
    assert pa_["recrawls"] != pb["recrawls"]
    assert pa_["noise"] != pb["noise"]
    assert a.num_rows - len(pa_["recrawls"]) == b.num_rows - len(pb["recrawls"])
    assert _newest_feed_pages(a) == _newest_feed_pages(b)


def test_benchmark_json_names_every_reported_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        layers.per_layer_metrics()


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_smoke_traced_run_passes_its_checks(name):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", name,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    # cold job, one timed job, then an untraced job and a traced pass, three times
    assert result["attempted"] >= 8
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == {n for n, _, _ in layers.per_layer_metrics()}
    for layer in layers.LAYERS:
        ran = layer != "checkpoint.history" or name == "incremental_recrawl"
        assert (m[f"{layer}.wall_s"] > 0) == ran, layer

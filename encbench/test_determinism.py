"""Self-test of the benchmark: seeded inputs and exact sizes repeat.

    python3 -m pytest encbench/test_determinism.py -q

The end-to-end cases run ``run.py --smoke`` (tiny inputs) as a user
would, three times per workload, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from encbench import inputs, run, workloads  # noqa: E402


def _bench(workload: str, seed: int, trace: int = 0):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    name = f"{workload}-seed{seed}-trace{trace}.json"
    with open(os.path.join(ROOT, ".encbench", "results", name)) as f:
        return result, json.load(f)


def _fingerprint(record: dict) -> tuple:
    return (
        record["input_digest"],
        record["sizes"]["size_ratio"],
        record["sizes"]["content_vs_parquetjs_gzip"],
        record["codec_mix"],
        record["compression_mix"],
    )


def test_input_digest_follows_seed():
    for make, rows in ((inputs.source_table, 300), (inputs.lineitem_table, 5000)):
        a, b, c = make(7, rows), make(7, rows), make(8, rows)
        assert inputs.digest(a) == inputs.digest(b)
        assert inputs.digest(a) != inputs.digest(c)


def test_metric_tables_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", ["source_read", "lineitem_roundtrip"])
def test_same_seed_same_sizes_and_codec_mix(workload):
    res_a, a = _bench(workload, 5)
    res_b, b = _bench(workload, 5)
    _, c = _bench(workload, 6)
    assert res_a["correct"] and res_b["correct"]
    assert res_a["failed"] == 0 and res_a["attempted"] > 0
    assert set(res_a["metrics"]) == set(run.END_TO_END)
    assert _fingerprint(a) == _fingerprint(b)
    assert a["input_digest"] != c["input_digest"]
    assert a["sizes"]["content_vs_parquetjs_gzip"] <= 1


def test_traced_run_reports_every_layer_metric():
    res, record = _bench("source_ingest", 5, trace=1)
    assert res["correct"]
    assert set(res["metrics"]) == set(run.PER_LAYER)
    assert record["replay"]["manifest_mismatches"] == 0
    assert res["metrics"]["arrow_chunk.encode_arrow_column.calls"]["value"] > 0
    assert os.path.exists(
        os.path.join(ROOT, ".encbench", "results", "source_ingest-seed5-trace1.spans.jsonl")
    )

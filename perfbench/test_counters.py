"""Self-check of the traced run: counters that do not depend on timing
repeat exactly across two runs with the same seed.

    python3 -m pytest perfbench/test_counters.py -q

Runs each workload traced twice for one second (one pass, or the
catch-up plus a short live phase); takes about four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
QUERY_COUNTERS = ("jobs", "sql_executions", "shuffle_records",
                  "checkpoint.materialize.calls",
                  "checkpoint.materialize_counted.calls")
BATCH_COUNTERS = ("records", "buckets_touched", "jobs", "sql_executions",
                  "shuffle_records")


def traced_ops(workload: str, seed: int = 7) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    with open(json.loads(lines[-2])["context"]["trace_file"]) as f:
        return json.load(f)["ops"]


def test_benchmark_json_matches_the_reports():
    from workloads import LAYER_METRICS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == LAYER_METRICS
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "latency_s", "throughput_per_s"}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def per_query(ops: list[dict]) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for op in ops:
        out.setdefault(op["query"], []).append(
            tuple(op.get(c, 0) for c in QUERY_COUNTERS))
    return {q: sorted(v) for q, v in out.items()}


def test_curation_counters_repeat():
    first = per_query(traced_ops("curation_batch"))
    assert first == per_query(traced_ops("curation_batch"))


def test_catchup_batch_counters_repeat():
    def catchup(ops):
        return [tuple(op.get(c, 0) for c in BATCH_COUNTERS)
                for op in ops if op["op"].startswith("catchup")]

    first = catchup(traced_ops("speed_layer_ingest"))
    assert first and first == catchup(traced_ops("speed_layer_ingest"))

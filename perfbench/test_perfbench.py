"""The benchmark's own test: the work counters of a traced run, and the
fixed work sizes it writes to its trace file, repeat exactly when the
same seed runs twice.

Takes several minutes (six benchmark runs), so it is marked ``slow``:

    python3 -m pytest perfbench -m slow -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

SEED = 3
PINNED = {
    "daily_ingest": [
        "lake.upsert_jobs", "lake.upsert_tasks", "lake.bytes_written", "lake.files_written",
    ],
    "lake_reads": ["read.files_scanned", "read.jobs"],
    "catalog_mix": [
        f"queries.{q}.exec_jobs"
        for q in (
            "q3_shipping_priority", "keep_last_dedup", "linking_hash_match",
            "minhash_lsh_pairs", "stateful_user_totals", "label_propagation_cc",
        )
    ],
}


INVARIANTS = {
    "daily_ingest": ["lake.upserts", "extract.rows", "pipelines.rows_out"],
    "lake_reads": ["read.rows_returned"],
    "catalog_mix": [],
}


def _traced(workload: str) -> tuple[dict, dict]:
    """(result line, the trace file's invariants) of one traced run."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()[-1]
    trace = ROOT / ".perfbench_out" / f"trace-{workload}-s{SEED}.json"
    return json.loads(out), json.loads(trace.read_text())["invariants"]


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(PINNED))
def test_counters_repeat_exactly(workload):
    (first, inv1), (second, inv2) = _traced(workload), _traced(workload)
    assert first["correct"] and second["correct"]
    assert first["failed"] == second["failed"] == 0
    pairs = [(n, first["metrics"][n]["value"], second["metrics"][n]["value"])
             for n in PINNED[workload]]
    pairs += [(n, inv1[n], inv2[n]) for n in INVARIANTS[workload]]
    for name, a, b in pairs:
        assert a > 0, name
        assert a == b, f"{name}: {a} then {b}"

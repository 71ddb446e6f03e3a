"""Round-close ritual, as one command (VERDICT r8 task 6).

Rounds 4, 6 and 7 each skipped part of the close-out under turn
pressure (unfrozen greens, missing BASELINE.md rows, stale QUERIES.md
/ plan snapshots); r8 got it right by hand. This script makes the
contract mechanical: it regenerates the derived artifacts, re-runs the
catalog ledger check, and refuses to exit green when any bench-known
query lacks a BASELINE.md row (the r8 `hourly_trend_regression`
failure class).

Steps (any failure → non-zero exit):

1. Regenerate QUERIES.md (tools/gen_queries_md.py) and fail if the
   result differs from the committed file *before* regeneration in a
   way git would show — i.e. the regeneration is committed too.
2. Re-snapshot physical plans (tools/plan_audit.py --snapshot at
   sf0.001) so tests/test_plan_regression.py gates on current plans.
3. Run the catalog ledger tests and the plan regression
   test.
4. Assert every query named in bench_extra.json (headline `queries` +
   `extra_queries`) appears in BASELINE.md — a first-bench figure the
   2x-gate reader can find.

3b. Both-SF sweep (VERDICT r9 task 6): every stale name
   (``catalog.stale_names()``: new, or code changed since its last
   green check) re-proves green against the DuckDB oracle at sf0.1 —
   the axis that caught the r9 logistic_regression_gd divergence the
   sf0.01 gate missed.

Usage: python tools/round_close.py [--skip-snapshot] [--skip-sf01-sweep]
(--skip-snapshot: plans unchanged this round — still verifies the
committed snapshot passes the regression test. --skip-sf01-sweep:
the stale names' sf0.1 rows were just recorded by hand.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list[str]) -> None:
    print(f"== {' '.join(cmd)}", flush=True)
    r = subprocess.run(cmd, cwd=REPO)
    if r.returncode != 0:
        print(f"ROUND-CLOSE RED: {' '.join(cmd)} -> {r.returncode}")
        sys.exit(r.returncode)


def main() -> None:
    py = sys.executable
    # 1. derived docs current
    run([py, "tools/gen_queries_md.py"])
    # 2. plan snapshot current
    if "--skip-snapshot" not in sys.argv:
        run([py, "tools/plan_audit.py", "/root/testdata/sf0.001", "--snapshot"])
    # print the pinned entry count so commit messages can't drift from
    # the artifact (VERDICT r10 "What's wrong" §2: a message claimed
    # 353 entries over a 351-entry snapshot).
    with open(os.path.join(REPO, "tools", "plan_snapshot.json")) as f:
        n_snap = len(json.load(f))
    print(f"ROUND-CLOSE: plan snapshot pins {n_snap} entries")
    # 3. ledger + plan-regression assertions
    run([
        py, "-m", "pytest", "-q",
        "tests/test_catalog.py::test_catalog_is_populated",
        "tests/test_catalog.py::test_priority_queue_names_resolve",
        "tests/test_catalog.py::test_verified_freeze_is_current",
        "tests/test_catalog.py::test_frozen_names_pruned_from_priority",
        "tests/test_plan_regression.py",
    ])
    # 3b. both-SF rule (VERDICT r9 task 6): every stale name (new, or
    # code changed since its last green check) must prove green at
    # sf0.1 too — the second-SF sweep is what caught the r9
    # logistic_regression_gd floor-vs-truncate divergence that the
    # driver's sf0.01 gate could not. Incremental: only stale names run.
    # Read once, before the sweep: a green sweep records those names in
    # the ledger, and step 4b checks the same names.
    sys.path.insert(0, REPO)
    from etl_energy_tracker_spark.queries import catalog

    stale = catalog.stale_names()
    if stale and "--skip-sf01-sweep" not in sys.argv:
        run([py, "tools/check_correctness.py", "/root/testdata/sf0.1",
             *stale])
    # 4. every benched query has a BASELINE.md row the 2x gate can read
    with open(os.path.join(REPO, "bench_extra.json")) as f:
        bench = json.load(f)
    benched = set(bench.get("queries", {})) | set(bench.get("extra_queries", {}))
    with open(os.path.join(REPO, "BASELINE.md")) as f:
        baseline = f.read()
    def has_row(q: str) -> bool:
        if q in baseline:
            return True
        # headline TPC-H figures are recorded under their short names
        # ("q1 1.32, q3 1.00, ..."), so q1_pricing_summary matches q1
        short = q.split("_")[0]
        import re

        return bool(
            short.startswith("q")
            and short[1:].isdigit()
            and re.search(rf"\b{short} \d", baseline)
        )

    missing = sorted(q for q in benched if not has_row(q))
    if missing:
        print(
            "ROUND-CLOSE RED: bench_extra.json queries with no BASELINE.md "
            f"row (add first-bench figures): {missing}"
        )
        sys.exit(1)
    # 4b. every new/changed op is actually benched: a stale name that
    # never entered bench.py's HEADLINE or EXTRA list would ship with no
    # perf row at all (the gap the bench_extra check above cannot see,
    # since it only reads names that DID get benched).
    bench_src = open(os.path.join(REPO, "bench.py")).read()
    unbenched = sorted(q for q in stale if f'"{q}"' not in bench_src)
    if unbenched:
        print(
            "ROUND-CLOSE RED: stale ops missing from bench.py "
            f"HEADLINE/EXTRA (add them): {unbenched}"
        )
        sys.exit(1)
    # uncommitted derived artifacts are a half-done close
    r = subprocess.run(
        ["git", "status", "--porcelain", "QUERIES.md", "tools/plan_snapshot.json"],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.stdout.strip():
        print(
            "ROUND-CLOSE YELLOW: regenerated artifacts differ from the "
            f"committed tree — commit them:\n{r.stdout}"
        )
        sys.exit(1)
    print("ROUND-CLOSE GREEN: docs current, plans pinned, ledger "
          "consistent, every benched query has a BASELINE.md row.")


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 8 --trace 0

Runs one workload (see ``workloads.py``) in a closed loop, one client,
on ``local[<cores>]``: set-up, then whole measured passes until
``--seconds`` of measured time have passed. Output checks run outside
the timed regions. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of ``BENCHMARK.json`` untraced, its
``per_layer`` metrics with ``--trace 1``. A traced run makes the
same pass three times, untraced, traced, untraced; the traced wall time,
less the ``noop`` transform runs only the traced pass makes, minus the
mean untraced one is ``trace.overhead_s``. Every span, and the fixed
work sizes the traced pass counted (``invariants``), are written to
``.perfbench_out/trace-<workload>-s<seed>.json``.

Everything it writes stays under the checkout's ``.perfbench_work``
(removed at exit) and ``.perfbench_out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "etl_energy_tracker_spark"


def _environment(work: Path) -> None:
    """Before Spark starts: Python workers import the package from the
    checkout, scratch files stay in ``work``, timestamps read as UTC."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [str(ROOT), str(HERE)]


def _start_spark(work: Path):
    from etl_energy_tracker_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def _engine(probe) -> dict[str, float]:
    """Spark work of the traced pass, without the noop transform runs the
    trace adds."""
    roots = [s for s in probe.spans if s.parent is None]
    added = [s for s in probe.spans if s.name.startswith("pipelines.")]
    return {
        f"spark.{k}": sum(s.counts.get(k, 0) for s in roots) - sum(s.counts.get(k, 0) for s in added)
        for k in ("jobs", "tasks", "shuffle_write_bytes", "executor_cpu_s")
    }


def _measure(wl, seconds: float) -> tuple[list, dict[str, float]]:
    """Whole passes until ``seconds`` of measured time have passed."""
    ops, passes = [], []
    while not passes or sum(passes) < seconds:
        done = wl.run_pass(len(passes))
        ops += done
        passes.append(sum(t for t, _ in done))
    return ops, {
        "wall_s": statistics.median(passes),
        "op_p50_s": statistics.median(t for t, _ in ops),
    }


def _measure_traced(wl, probe) -> tuple[list, dict[str, float]]:
    """Pass 0 untraced, traced, untraced again; per-layer numbers come
    from the traced one."""
    ops = wl.run_pass(0)
    probe.start_tracing()
    traced = wl.run_pass(0)
    wl.finish_layers()
    probe.stop_tracing()
    ops += wl.run_pass(0)
    untraced_wall = sum(t for t, _ in ops) / 2
    traced_wall = sum(t for t, _ in traced) - probe.total("pipelines.")
    return ops + traced, {
        **wl.stats,
        **_engine(probe),
        "trace.overhead_s": traced_wall - untraced_wall,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-lake", action="store_true",
                    help="only build and cache the lake_reads lake (lake_reads runs this itself)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _environment(work)
    from probe import Probe
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](str(work), args.seed, str(ROOT))
    spark = None
    clock = [("start", time.perf_counter())]
    try:
        if args.build_lake:
            spark = _start_spark(work)
            wl.attach(spark, Probe(spark))
            return 0 if wl.build_cache() else 1
        wl.prepare()
        clock.append(("prepare", time.perf_counter()))
        spark = _start_spark(work)
        clock.append(("session", time.perf_counter()))
        session_s = clock[-1][1] - clock[-2][1]
        probe = Probe(spark)
        wl.attach(spark, probe)
        setup_s = session_s + wl.setup()
        clock.append(("setup", time.perf_counter()))
        if args.trace:
            ops, values = _measure_traced(wl, probe)
            values["session.start_s"] = session_s
            metrics = spec["per_layer"]
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            probe.write(str(out / f"trace-{args.workload}-s{args.seed}.json"), wl.invariants)
        else:
            ops, values = _measure(wl, args.seconds)
            values["setup_s"] = setup_s
            metrics = spec["end_to_end"]
        clock.append(("measure", time.perf_counter()))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    clock.append(("stop", time.perf_counter()))

    print("perfbench: phase seconds " + " ".join(
        f"{name}={t - prev:.2f}" for (_, prev), (name, t) in zip(clock, clock[1:])), file=sys.stderr)
    print("perfbench: op seconds " + " ".join(f"{t:.3f}" for t, _ in ops), file=sys.stderr)
    if args.trace:
        print(f"perfbench: invariants {json.dumps(wl.invariants, sort_keys=True)}", file=sys.stderr)
    for problem in wl.problems:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    result = {
        "correct": not wl.problems,
        "attempted": len(ops),
        "failed": sum(not ok for _, ok in ops),
        # a layer the workload does not exercise reports 0
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in metrics
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

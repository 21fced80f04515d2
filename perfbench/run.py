"""Lifecycle benchmark of the makanmana engine: one command, two
seeded workloads.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 8 --trace 0

Workloads (see ``perfbench/README.md`` for why each exists and which
layer metric should move which end-to-end metric):

- ``lifecycle``: an EP3 nightly refresh cycle, the EP2 cold read of its
  snapshot, then an EP1 keystroke script pass over it;
- ``surface``: warm passes over four barrier-bound declared queries and
  five controls.

Every workload runs single-process, one client, closed loop, at
``local[nproc]``. It sets up (process start to first timed operation =
``setup_s``), then repeats its timed unit until ``--seconds`` have
passed, then checks every output. With ``--trace 1`` units alternate
between traced and untraced, and the per-layer metrics plus the
tracing overhead are reported instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value, unit). The line before it is
a fuller report with every end-to-end figure by name. Run state lives
in ``.perfbench_runs/`` and is removed at exit; traces are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lifecycle", "surface")
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (``/proc``), so ``setup_s``
    includes interpreter start-up and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def declared(values: dict, kind: str, missing: float | None = None) -> dict:
    """``{name: {value, unit}}`` for every metric BENCHMARK.json
    declares under ``kind`` (``end_to_end`` or ``per_layer``); a name
    absent from ``values`` gets ``missing``, or raises if that is None."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {
        m["name"]: {
            "value": float(values[m["name"]] if missing is None else values.get(m["name"], missing)),
            "unit": m["unit"],
        }
        for m in spec
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cdc_makanmana_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import RunDirs

    cpus = len(os.sched_getaffinity(0))
    dirs = RunDirs(os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.environ.update(dirs.environ(cpus, DRIVER_MEMORY))
    try:
        report, result = run(args, dirs, cpus)
    finally:
        dirs.cleanup()
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


def run(args, dirs, cpus: int) -> tuple[dict, dict]:
    import tempfile

    tempfile.tempdir = None  # pick up the run's TMPDIR
    from cdc_makanmana_spark.session import get_spark

    from perfbench import harness
    from perfbench.lifecycle import Lifecycle
    from perfbench.surface import Surface

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        cls = {"lifecycle": Lifecycle, "surface": Surface}[args.workload]
        wl = cls(spark, dirs, tracer, args.seed)
        setup_s = process_age_s()

        # timed units; a traced run times four or more in the order
        # traced, untraced, untraced, traced, ... so warm-up drift does
        # not land on one side of the overhead estimate
        tracing = tracer.enabled
        units: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        while (
            time.perf_counter() < deadline
            or all(u["traced"] for u in units)
            or (tracing and len(units) < 4)
        ):
            k = len(units)
            tracer.enabled = tracing and k % 4 in (0, 3)
            wall, unit_cpu = wl.unit(k)
            units.append({"k": k, "traced": tracer.enabled, "wall": wall, "cpu": unit_cpu})
        tracer.enabled = False
        plain = [u for u in units if not u["traced"]]
        keep = {u["k"] for u in plain}

        attempted, failed = wl.check()
        latency_ms, detail = wl.latency(keep)
        e2e = {
            "setup_s": setup_s,
            "pass_s": harness.median([u["wall"] for u in plain]),
            "pass_cpu_s": harness.median([u["cpu"] for u in plain]),
            "latency_ms": latency_ms,
            "peak_rss_mb": harness.peak_rss_mb(spark),
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cpus,
            # fresh per run, removed at exit
            "isolation": {
                var: os.path.relpath(os.environ[var], ROOT)
                for var in ("CDC_ARTIFACT_DIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE", "TMPDIR")
            },
            "driver_memory": DRIVER_MEMORY,
            "attempted": attempted,
            "failed": failed,
            "error_rate": failed / attempted,
            **e2e,
            **detail,
            "units": [{k: round(v, 4) if isinstance(v, float) else v for k, v in u.items()} for u in units],
        }
        if tracing:
            layers = wl.layers()
            spans = tracer.spans
            traced = [u for u in units if u["traced"]]
            traced_units = len(traced)
            layers["spark.shuffle_bytes"] = sum(s.get("shuffle_bytes", 0) for s in spans) / traced_units
            layers["spark.spill_bytes"] = sum(s.get("spill_bytes", 0) for s in spans) / traced_units
            layers["host.calibration_s"] = harness.calibrate(spark)
            layers["trace.overhead"] = harness.median([u["wall"] for u in traced]) / e2e["pass_s"] - 1
            # a layer this workload does not run reports 0
            metrics = declared(layers, "per_layer", missing=0.0)
            report["per_layer"] = layers
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = declared(e2e, "end_to_end")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return report, result
    finally:
        harness.stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Inputs are generated from
``--seed`` under ``.perfbench/`` in the checkout; the engine only sees the
generated parquet files. Every end-to-end metric is printed by name and
unit, and the last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see perfbench/README.md for what each one measures).
The exit code is 1 when an output check failed.
Host CPU steal, tracing overhead and the full span trace are written beside
the results in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dataflow_geobeam_spark"
# at most two worker cores, and at least one core left for the JVM's own
# threads and the benchmark process (see perfbench/README.md, "Set-up")
CPUS = max(1, min(2, len(os.sched_getaffinity(0)) - 1))


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and put the checkout on the Python workers' path (the
    engine's worker daemon module is imported from it)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher: no /tmp/hsperfdata files,
    # and C1-only JIT, so compilation does not compete with the measured phase
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    out_dir = os.path.join(state, "out")
    _configure_env(work)

    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    h = harness.Harness(
        workload=args.workload, work=work, cache=os.path.join(state, "cache"), out_dir=out_dir,
        seed=args.seed, seconds=args.seconds, cpus=CPUS,
    )
    t_start = time.time()
    try:
        result = workloads.WORKLOADS[args.workload](h, traced=bool(args.trace))
    finally:
        t_close = time.time()
        h.close()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": CPUS,
        "run_wall_s": time.time() - t_start,
        "close_s": time.time() - t_close,
        **result.side,
    }
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(side, f, indent=1, default=str)
    if result.spans:
        with open(os.path.join(out_dir, f"{stem}.spans.json"), "w") as f:
            json.dump(result.spans, f, default=str)

    metrics = result.layer if args.trace else result.e2e
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    if not args.trace:
        wall = ", ".join(f"{k} {v:.6g}" for k, v in result.side["wall"].items())
        print(f"(wall clock, not bounded: {wall}; host CPU steal "
              f"{result.side['host_steal_frac']:.4f}; details in {out_dir})")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if result.failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

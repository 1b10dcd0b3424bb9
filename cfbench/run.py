"""Benchmark of the cflog2otel_spark pipeline, end to end and layer by layer.

    python3 cfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`; the line before
it is a `detail` record (host, inputs, per-operation samples, spans). With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See README.md in this directory for the workloads, the
metrics and what each one should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """Digest of the program's source, standing in for the commit in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "main.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "cflog2otel_spark")):
        paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        if os.path.exists(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cflog2otel_spark", "__init__.py")):
        print(f"cflog2otel_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    # Spark's Python workers and the program's own subprocesses import the
    # package from the checkout, never from an installed copy.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Same parallelism as the tier-1 tests; a fixed, small heap so runs fit
    # beside other work on a shared host.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    work = os.path.join(ROOT, ".bench_work")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    # temporary files (PySpark's gateway handshake, DuckDB) stay in the checkout
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bench = workloads.Bench(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        t_proc=t_proc, cache_dir=os.path.join(work, "inputs"), run_dir=run_dir,
    )
    try:
        out = workloads.WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    out.detail["host"] = {
        **out.detail.get("host", {}),
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "mem_total_kb": int(next(
            ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemTotal")
        )),
        "source_digest": source_digest(),
    }
    # every metric BENCHMARK.json declares for this mode, with its unit; one
    # the run could not measure is null and named in the detail line
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": out.metrics.get(m["name"]), "unit": m["unit"]}
               for m in declared}
    missing = sorted(k for k, v in metrics.items() if v["value"] is None)
    if missing:
        out.detail["missing"] = sorted(set(out.detail.get("missing", [])) | set(missing))
    print(json.dumps({"detail": out.detail}, default=str))
    print(json.dumps({
        "correct": out.failed == 0 and not out.errors,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

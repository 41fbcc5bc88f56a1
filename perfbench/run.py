"""pmocr-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch_fresh --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and cached under ``.bench_cache/``; scratch output, Spark's local dirs
and the per-run record go under ``.bench_work/``. The last stdout line
is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (from spans the benchmark records around its calls
into the engine; only that run enables the Spark UI). ``--smoke`` runs
the same code on tiny inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _driver_mem() -> str:
    """Driver heap: an eighth of host memory, capped at 2 GB, leaving room
    for one Python worker per core beside it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, kb // 1024 // 8))}m"


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PMOCR_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PERFBENCH_DRIVER_MEM"] = _driver_mem()
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_jvm(bench) -> None:
    """Stop Spark and the JVM it launched, and wait for every child."""
    import host

    if bench.spark is not None:
        bench.spark.stop()
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    except ImportError:
        pass
    end = time.time() + 30
    while host.descendants(os.getpid()) and time.time() < end:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith("_s_p50"):
        return "s"
    if name.endswith(("_rows", "_tasks")):
        return "count"
    return "ratio"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, same code paths")
    args = p.parse_args(argv)

    cache = os.path.join(ROOT, ".bench_cache")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(ROOT, ".bench_work", "records")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(records, exist_ok=True)
    _environment(work)

    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import pmocr_spark  # noqa: F401 — fail fast, before any Spark work, without the engine

    bench = workloads.WORKLOADS[args.workload](
        args.workload, args.seed, args.seconds, bool(args.trace), work, cache, args.smoke
    )
    info = {"host_start": host.host_info(), "driver_mem": os.environ["PERFBENCH_DRIVER_MEM"]}
    try:
        e2e = bench.run()
    finally:
        t0 = time.perf_counter()
        _stop_jvm(bench)
        info["stop_s"] = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
    info["host_end"] = host.host_info()
    metrics = (
        {k: {"value": float(v), "unit": _unit(k)} for k, v in sorted(bench.layer.items())}
        if args.trace
        else {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    )
    result = {
        "correct": bench.failed == 0,
        "attempted": int(bench.attempted),
        "failed": int(bench.failed),
        "metrics": metrics,
    }
    record = {"args": vars(args), "info": {**info, **bench.info}, "notes": bench.notes, "result": result}
    stamp = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    if args.trace:
        bench.tracer.write(os.path.join(records, f"trace-{stamp}.json"), {"record": record})
    with open(os.path.join(records, f"run-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("perfbench-host " + json.dumps(info))
    for n in bench.notes:
        print("perfbench-check " + n)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts one Spark session at ``local[<nproc>]``, runs the workload's
fixed closed loop (``--seconds`` caps it) and checks every answer. Prints one
``metric <name> <value> <unit>`` line per metric (``error_rate`` included),
then, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.

Spark settings go only through ``get_spark`` arguments and the environment
variables it reads: the driver heap (``SPARK_DRIVER_MEMORY``) is sized
below the host's memory and shuffle/spill goes to a directory inside the
checkout (``SPARK_LOCAL_DIRS``). Everything the run writes lives under
``.perfbench_work/`` (removed at exit) and, for traced runs, the span dump
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEMORY = "4g"

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "build_files_per_s": ("files/s", "higher"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
    "query_p50_ms": ("ms", "lower"),
    "query_tail_ms": ("ms", "lower"),
    "batch_qps": ("queries/s", "higher"),
    "commit_p50_s": ("s", "lower"),
}

WORKLOADS = ("query_mixed", "ingest_serve", "build_bulk")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def read_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(cores: int, work: str):
    """Point temp/spill/shuffle dirs into the checkout, then start the
    session. Returns (spark, seconds)."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      SPARK_DRIVER_MEMORY=DRIVER_MEMORY)
    t0 = time.perf_counter()
    from smse_backend_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, which exits when its stdin
    closes (it has already stopped its Python workers)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import smse_backend_spark  # noqa: F401
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    inputs_fn, run_fn = {
        "query_mixed": (workloads.query_mixed_inputs, workloads.run_query_mixed),
        "ingest_serve": (workloads.ingest_inputs, workloads.run_ingest_serve),
        "build_bulk": (workloads.build_bulk_inputs, workloads.run_build_bulk),
    }[args.workload]
    cores = cpu_count()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    phases = {}
    t_start = time.perf_counter()
    try:
        inp = inputs_fn(args.seed, work)
        phases["inputs"] = time.perf_counter() - t_start
        steal0, total0 = read_cpu_jiffies()
        spark, session_s = start_spark(cores, work)
        try:
            b = workloads.Bench(spark, session_s, work, args.seconds,
                                bool(args.trace), cores)
            run_fn(b, inp)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            b.res.props["session.peak_rss_mb"] = vm_hwm_mb(int(jvm_pid))
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            phases["stop"] = time.perf_counter() - t_stop
        steal1, total1 = read_cpu_jiffies()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_start

    res = b.res
    res.props["host.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    res.props["host.loadavg"] = os.getloadavg()[0]
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} master local[{cores}] driver_memory {DRIVER_MEMORY}")
    for name, (unit, _better) in END_TO_END.items():
        if name in res.e2e:
            print(f"metric {name} {res.e2e[name]:.6g} {unit}")
    print(f"metric error_rate {res.failed / max(1, res.attempted):.6g} "
          f"failed/attempted ({res.failed}/{res.attempted})")
    for name, val in sorted(res.props.items()):
        print(f"property {name} {val:.6g}")
    print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()),
          file=sys.stderr)
    for p in res.problems[:20]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    if args.trace:
        from perfbench.layers import PER_LAYER

        for k in ("host.steal_pct", "host.loadavg", "session.peak_rss_mb"):
            res.layer[k] = res.props[k]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        b.tr.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        for name, (unit, _better) in PER_LAYER.items():
            print(f"layer {name} {res.layer[name]:.6g} {unit}")
        metrics = {n: {"value": res.layer[n], "unit": u} for n, (u, _b) in PER_LAYER.items()}
    else:
        metrics = {n: {"value": res.e2e[n], "unit": u}
                   for n, (u, _b) in END_TO_END.items() if n in res.e2e}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

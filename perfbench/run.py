"""Benchmark driver: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It builds the engine's default
session (``get_spark()`` with ``SPARK_GRAFT_CPUS`` set from the cores
this process may use), writes seeded inputs under ``.perfbench_work/``,
warms up on a small slice of them, measures whole rounds of the
workload for ``--seconds`` seconds, checks every output against an
independent computation and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes the spans to ``.perfbench_work/traces/``.
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


def process_age_s() -> float:
    """Seconds since this process started, from /proc (the kernel's
    start tick), so set-up time includes interpreter start."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.monotonic() - _T0


_T0 = time.monotonic()


def _isolate(work: str) -> None:
    """Keep Spark's scratch files, the JVM's temp files and the Python
    workers' imports inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import memory_engine_spark  # noqa: F401  (fails outside a checkout)
    from spans import Tracer, host_probe, jvm_gc_ms, persisted_rdds
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    _isolate(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        wl.generate()
        phases = {"generate": process_age_s()}
        from memory_engine_spark.session import get_spark

        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        phases["session"] = process_age_s()
        tracer = Tracer(spark, bool(args.trace))
        wl.setup(spark, tracer)
        setup_s = phases["warm_up"] = process_age_s()
        gc0 = jvm_gc_ms(spark)
        wl.timed(args.seconds)
        gc_ms = jvm_gc_ms(spark) - gc0
        persisted = persisted_rdds(spark)
        probe = host_probe(int(os.environ["SPARK_GRAFT_CPUS"]))
        wl.check()
        if args.trace:
            metrics = wl.per_layer()
            metrics["jvm_gc_ms_per_op"] = gc_ms / len(tracer.walls)
            metrics["persisted_rdds_end"] = persisted
            metrics["host_throttle_ratio"] = probe["throttle_ratio"]
        else:
            metrics = wl.end_to_end()
            metrics["setup_s"] = setup_s
        op_ms = wl.op_medians()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed}: rounds of "
          + ", ".join(f"{x:.1f}" for x in wl.round_s) + " s, set-up ends at "
          + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()) + ", "
          f"host throttle ratio {probe['throttle_ratio']:.2f}; median ms "
          + ", ".join(f"{k} {v:.0f}" for k, v in op_ms.items()), file=sys.stderr)
    for e in wl.errors[:20]:
        print(f"perfbench check failed: {e}", file=sys.stderr)
    if args.trace:
        tracer.write(os.path.join(work_root, "traces",
                                  f"{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed,
                      "setup_s": setup_s, "probe": probe, "op_ms": op_ms,
                      "metrics": metrics})
    units = PER_LAYER if args.trace else END_TO_END | {"setup_s": "s"}
    out = {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": wl.failed == 0,
                      "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

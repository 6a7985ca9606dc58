"""Benchmark entry point.

    python3 perfbench/run.py --workload mor_tail --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds one Spark session sized for the host
(``local[<cores>]``), runs the named workload (see ``workloads.py``) and
prints, as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every public call and reports the per-layer
metrics instead, writing all spans to ``.perfbench/traces/``. The line
before the result is a JSON evidence record (set-up breakdown, host load,
memory bandwidth, tail percentile and sample count).

Every file the run writes stays under ``.perfbench/`` in the repository
root; a run's scratch directory is removed when it ends.
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


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-fault", action="store_true",
                    help="drop one row from the reference (gate self-test)")
    return ap.parse_args(argv)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "diffsync_spark", "__init__.py")):
        print("perfbench: no diffsync_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    traces = os.path.join(ROOT, ".perfbench", "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(traces, exist_ok=True)
    os.environ["TMPDIR"] = work  # Python-side temp files stay inside too

    import harness
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    from diffsync_spark import build_session

    cpus = harness.host_cpus()
    ticks0 = harness.cpu_ticks()
    t = time.perf_counter()
    host = {"cpus": cpus, "loadavg_start": harness.loadavg(),
            "membw_gbps_start": harness.membw_gbps()}
    probe_s = time.perf_counter() - t  # host evidence is not set-up
    spark = build_session(master=f"local[{cpus}]", app_name="perfbench",
                          shuffle_partitions=cpus,
                          extra_conf=harness.session_conf(work, cpus, bool(a.trace)))
    try:
        session_s = time.perf_counter() - t_proc - probe_s
        ctx = workloads.Context(
            spark=spark, work=work, seed=a.seed, seconds=a.seconds,
            trace=bool(a.trace), scale=workloads.SCALES[a.scale][a.workload],
            plant_fault=a.plant_fault)
        wl = workloads.WORKLOADS[a.workload](ctx)
        result, evidence = workloads.run(wl, session_s, harness.jvm_pid(spark))
        host.update(loadavg_end=harness.loadavg(),
                    membw_gbps_end=harness.membw_gbps(),
                    steal_pct=harness.steal_pct(ticks0))
        evidence["host"] = host
        if a.trace:
            path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
            result["tracer"].dump(path, {"evidence": evidence})
            evidence["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    metrics = result["per_layer"] if a.trace else result["metrics"]
    print(json.dumps(evidence, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

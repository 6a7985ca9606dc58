"""Alternating A/B pairs of the repo benchmark from two checkouts.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload snapshot_sync --seeds 801-810 --seconds 6 --out ab.json
    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload mor_tail --seeds 901-903 --trace 1 --out ab_trace.json
    python3 scripts/ab_pairs.py --report ab.json

Each seed is one pair: ``perfbench/run.py --workload W --seed S --seconds
T --trace X`` runs once in each checkout, one after the other, and the
side that goes first alternates from pair to pair, so a drift of the host
does not favour either side. The parent checkout can be any copy of the
parent commit (``git archive <commit> | tar -x -C ../parent``).

The table has one row per end-to-end metric of ``BENCHMARK.json`` (read
from the change checkout), or with ``--trace 1`` (traced runs, whose
result objects carry the per-layer metrics) one row per ``per_layer``
metric, so a change can show the phase it moves: the median and quartiles (q1-q3) of each side,
the change of the median in percent, the pairs the change won (by the
metric's ``better`` direction), and whether the median gap exceeds the
parent's interquartile range. Below it are the failed/attempted operation
counts and the runs whose correctness gate held. ``--out`` keeps every
run's result object, written after each run, so an interrupted series
still reports; ``--report`` prints the table of a saved series. Nothing
under ``perfbench/`` is changed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: float,
         trace: int) -> dict:
    """One benchmark run; its result object, or a failure record."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"error": f"exit {p.returncode}: {p.stderr[-400:]}"}
    res["wall_s"] = round(time.perf_counter() - t0, 1)
    return res


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def report(series: dict) -> str:
    metrics = series["metrics"]
    pairs = [p for p in series["pairs"]
             if "metrics" in p["parent"] and "metrics" in p["change"]]
    out = [f"{series['workload']}: {len(pairs)} complete pairs, seeds "
           f"{[p['seed'] for p in pairs]}",
           "| metric | parent median (q1-q3) | change median (q1-q3) "
           "| change | pairs won | gap > parent IQR |",
           "|---|---|---|---|---|---|"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(p["parent"]["metrics"][name]["value"],
                p["change"]["metrics"][name]["value"]) for p in pairs
               if name in p["parent"]["metrics"]
               and name in p["change"]["metrics"]]
        if not got:
            continue
        a = _quartiles([x for x, _ in got])
        b = _quartiles([y for _, y in got])
        won = sum((y < x) if lower else (y > x) for x, y in got)
        pct = (b[1] - a[1]) / a[1] * 100 if a[1] else float("nan")
        out.append(
            f"| {name} | {_fmt(a[1])} ({_fmt(a[0])}-{_fmt(a[2])}) "
            f"| {_fmt(b[1])} ({_fmt(b[0])}-{_fmt(b[2])}) | {pct:+.1f}% "
            f"| {won}/{len(got)} | {abs(b[1] - a[1]) > a[2] - a[0]} |")
    for side in ("parent", "change"):
        runs = [p[side] for p in series["pairs"] if p[side]]
        ok = [r for r in runs if "metrics" in r]
        out.append(
            f"{side}: {len(ok)}/{len(runs)} runs reported, failed "
            f"{sum(r.get('failed', 0) for r in ok)}/"
            f"{sum(r.get('attempted', 0) for r in ok)} operations, "
            f"correct in {sum(bool(r.get('correct')) for r in ok)} runs")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 801-810 or 801,803-805")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced runs, reporting the per-layer metrics")
    ap.add_argument("--out", help="JSON file for the series")
    ap.add_argument("--report", help="print the table of a saved series")
    a = ap.parse_args(argv)
    if a.report:
        with open(a.report) as f:
            print(report(json.load(f)))
        return 0
    if not (a.parent and a.workload and a.seeds):
        ap.error("--parent, --workload and --seeds are required")
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["per_layer" if a.trace else "end_to_end"]
    series = {"workload": a.workload, "seconds": a.seconds,
              "trace": a.trace, "metrics": metrics, "pairs": []}
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    for i, seed in enumerate(_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0], "parent": {}, "change": {}}
        series["pairs"].append(pair)
        for side in order:
            pair[side] = _run(sides[side], a.workload, seed, a.seconds,
                              a.trace)
            print(f"seed {seed} {side}: "
                  f"{pair[side].get('error') or 'ok'} "
                  f"({pair[side]['wall_s']} s)", file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "w") as f:
                    json.dump(series, f, indent=1)
    print(report(series))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark workloads and the closed-loop runner that drives them.

Every workload drives the engine only through its public API. All are
closed loop: inputs are staged before timing, and each operation starts
when the previous one has committed (the catch-up shape of a CDC tail
draining a backlog).

- ``mor_tail``: one staged changelog file per micro-batch, drained by
  ``stream_replay`` into a merge-on-read table with inline maintenance.
- ``snapshot_sync``: ``Engine.sync_from`` applies successive source
  generations to a copy-on-write table.
- ``cow_backfill``: ``replay_batches`` of large changelog batches into a
  copy-on-write table (runnable by name; not in ``BENCHMARK.json``, see
  ``perfbench/README.md``).
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

import gen
from harness import Ops, dir_stats, median, peak_rss_mb, same_multiset, tail
from tracing import CountingCommitIO, Tracer

from diffsync_spark import Engine, SnapshotTable, TRANSCRIPT_MODEL, diff
from diffsync_spark.plans.threeway import patch_snapshot
from diffsync_spark.streaming.replay import replay_batches, stream_replay

KEYS = list(TRANSCRIPT_MODEL.identifiers)

# Per-workload sizes. "tiny" is the smoke-test scale of the benchmark's own
# tests; it exercises every code path in a few seconds per operation.
# ``op_s`` is a nominal operation time, fixed per workload, that turns
# ``--seconds`` into a timed operation count (see ``Workload.timed_ops``),
# so the number of samples never depends on how fast the host is today.
# ``setups`` is how many tables are bootstrapped; the last one is measured.
SCALES = {
    "full": {
        "mor_tail": dict(n_convs=500, text_bytes=160, batch_events=1000,
                         n_buckets=4, op_s=1.5, warm_ops=2, setups=3,
                         maintain_every=1, max_delta_layers=3,
                         lookups=6, scans=6),
        "snapshot_sync": dict(n_convs=500, text_bytes=160, n_buckets=4,
                              op_s=1.0, warm_ops=1, setups=3,
                              lookups=6, scans=6),
        "cow_backfill": dict(n_convs=4000, text_bytes=160, batch_events=40000,
                             n_buckets=16, op_s=3.0, warm_ops=2, setups=3,
                             lookups=4, scans=4),
    },
    "tiny": {
        "mor_tail": dict(n_convs=50, text_bytes=16, batch_events=200,
                         n_buckets=4, op_s=1.0, warm_ops=1, setups=2,
                         maintain_every=1, max_delta_layers=2,
                         lookups=3, scans=1),
        "snapshot_sync": dict(n_convs=50, text_bytes=16, n_buckets=4,
                              op_s=1.0, warm_ops=1, setups=2,
                              lookups=3, scans=1),
        "cow_backfill": dict(n_convs=50, text_bytes=16, batch_events=300,
                             n_buckets=4, op_s=1.0, warm_ops=1, setups=2,
                             lookups=3, scans=1),
    },
}
TURNS = 20


@dataclass
class Handle:
    """One table under test and what a workload keeps beside it."""

    table: SnapshotTable
    path: str
    extra: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    scale: dict
    plant_fault: bool = False


class Workload:
    """Base class: subclasses stage inputs and define one operation."""

    name = ""
    op_span = "op"
    # the timed operations are a whole number of cycles, so a periodic cost
    # (maintenance) is always in the same share of them
    cycle = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.p = ctx.scale
        self.ks = gen.Keyspace(self.p["n_convs"], TURNS, self.p["text_bytes"])
        self.input_dir = os.path.join(ctx.work, "input")

    @property
    def timed_ops(self) -> int:
        """Whole cycles covering ``--seconds`` at the nominal ``op_s``; at
        least two cycles in the traced run, which alternates them."""
        cycles = max(1, math.ceil(self.ctx.seconds
                                  / (self.cycle * self.p["op_s"])))
        if self.ctx.trace:
            cycles = max(cycles, 2)
        return cycles * self.cycle

    @property
    def n_ops(self) -> int:
        """Operations staged: the warm-up plus the timed ones."""
        return self.p["warm_ops"] + self.timed_ops

    def table_path(self, tag: str) -> str:
        return os.path.join(self.ctx.work, "tables", tag)

    def stage(self) -> None:
        raise NotImplementedError

    def new_table(self, tag: str, io=None) -> Handle:
        raise NotImplementedError

    def begin(self, h: Handle) -> None:
        """Called before the first operation on a table."""

    def op(self, h: Handle, i: int) -> int:
        """Run operation ``i`` to its commit; returns input records."""
        raise NotImplementedError

    def check_op(self, h: Handle, i: int) -> bool:
        """Untimed per-operation correctness check."""
        return True

    def traced_extra(self, h: Handle, i: int, tracer: Tracer) -> None:
        """Untimed extra layer measurement after a traced operation."""

    def end(self, h: Handle) -> None:
        """Called after the last operation on a table."""

    def final_check(self, h: Handle, n_ops: int) -> bool:
        """Untimed check after the last operation, before the gate."""
        return True

    def reference(self, n_ops: int):
        """The expected table state after ``n_ops`` operations."""
        raise NotImplementedError

    def deleted_candidates(self, n_ops: int, rng, m: int) -> list:
        """Up to ``m`` keys likely absent after ``n_ops`` operations."""
        raise NotImplementedError

    def overhead_s(self) -> float:
        """Median per-batch streaming overhead (0 outside streaming)."""
        return 0.0


# --------------------------------------------------------------- replays

class _Replay(Workload):
    write_mode = "cow"

    def stage(self) -> None:
        src = os.path.join(self.input_dir, "src")
        gen.write_parquet(gen.source_snapshot(self.ks, self.ctx.seed),
                          os.path.join(src, "part-0.parquet"))
        self.batch_files, self.batch_rows = [], []
        for b in range(self.n_ops):
            t = gen.changelog_batch(self.ks, self.ctx.seed, b,
                                    self.p["batch_events"])
            path = os.path.join(self.input_dir, "chg", f"b{b:05d}.parquet")
            gen.write_parquet(t, path)
            self.batch_files.append(path)
            self.batch_rows.append(t.num_rows)
        self.src = self.spark.read.schema(gen.SOURCE_DDL).parquet(src)

    def new_table(self, tag: str, io=None) -> Handle:
        path = self.table_path(tag)
        t = SnapshotTable.create(self.spark, path, TRANSCRIPT_MODEL,
                                 schema=self.src.schema,
                                 n_buckets=self.p["n_buckets"], io=io,
                                 write_mode=self.write_mode)
        t.merge(self.src.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
        return Handle(t, path)

    def batch_df(self, i: int):
        return self.spark.read.schema(gen.CHANGELOG_DDL).parquet(
            self.batch_files[i])

    def reference(self, n_ops: int):
        if n_ops == 0:
            return self.src
        chg = self.spark.read.schema(gen.CHANGELOG_DDL).parquet(
            *self.batch_files[:n_ops])
        return patch_snapshot(self.src, chg, TRANSCRIPT_MODEL)

    def deleted_candidates(self, n_ops: int, rng, m: int) -> list:
        keys = []
        for path in self.batch_files[:n_ops]:
            t = pq.read_table(path, columns=["op", "conv_id", "turn_idx"])
            t = t.filter(pc.equal(t["op"], "delete"))
            keys += zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist())
        if not keys:
            return []
        return [keys[j] for j in rng.choice(len(keys), min(m, len(keys)),
                                            replace=False)]


class CowBackfill(_Replay):
    name = "cow_backfill"
    op_span = "replay_batches"

    def op(self, h: Handle, i: int) -> int:
        res = replay_batches(h.table, self.batch_df(i), n_batches=1,
                             checkpoint_id=f"backfill-{i}")
        if len(res) != 1 or res[0].get("skipped"):
            raise RuntimeError(f"batch {i} not applied: {res}")
        return self.batch_rows[i]


class _CommitLog(list):
    """The ``results`` list handed to ``stream_replay``: records when each
    micro-batch's merge result (its commit) became visible."""

    def __init__(self) -> None:
        super().__init__()
        self.cond = threading.Condition()

    def append(self, res) -> None:
        with self.cond:
            super().append(res)
            self.cond.notify_all()

    def wait_for(self, n: int, query, timeout: float = 60.0) -> None:
        deadline = time.monotonic() + timeout
        with self.cond:
            while len(self) < n:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped: {query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"micro-batch {n - 1} did not commit")
                self.cond.wait(0.5)


class MorTail(_Replay):
    name = "mor_tail"
    op_span = "stream.batch"
    write_mode = "mor"

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.overheads: list[float] = []
        # every batch touches every bucket, so with maintenance after each
        # batch all buckets fold together once per max_delta_layers batches
        self.cycle = self.p["max_delta_layers"] * self.p["maintain_every"]

    def begin(self, h: Handle) -> None:
        h.extra["src"] = h.path + "_feed"
        os.makedirs(h.extra["src"])
        h.extra["log"] = log = _CommitLog()
        h.extra["query"] = stream_replay(
            h.table, h.extra["src"], gen.CHANGELOG_DDL, h.path + "_ckpt",
            available_now=False, max_files_per_trigger=1, results=log,
            maintain_every=self.p["maintain_every"],
            max_delta_layers=self.p["max_delta_layers"],
        )

    def op(self, h: Handle, i: int) -> int:
        # hand the batch to the tail: the file appears atomically
        os.link(self.batch_files[i],
                os.path.join(h.extra["src"], f"b{i:05d}.parquet"))
        log = h.extra["log"]
        log.wait_for(i + 1, h.extra["query"])
        if log[i].get("skipped"):
            raise RuntimeError(f"micro-batch {i} skipped: {log[i]}")
        return self.batch_rows[i]

    def end(self, h: Handle) -> None:
        q = h.extra["query"]
        try:
            q.processAllAvailable()  # the last batch's inline maintenance
            progress = q.recentProgress
        finally:
            q.stop()
        self.overheads = [
            (p["durationMs"].get("triggerExecution", 0)
             - p["durationMs"].get("addBatch", 0)) / 1000
            for p in progress
            if p.get("numInputRows", 0) > 0 and p["batchId"] >= self.p["warm_ops"]
        ]

    def overhead_s(self) -> float:
        return median(self.overheads) if self.overheads else 0.0


# ---------------------------------------------------------- snapshot sync

class SnapshotSync(Workload):
    name = "snapshot_sync"
    op_span = "sync_from"

    def stage(self) -> None:
        g = gen.Generations(self.ks, self.ctx.seed)
        self.gen_files, self.gen_rows, self.gen_deltas = [], [], []
        for k in range(self.n_ops + 1):
            t = g.current() if k == 0 else g.advance()
            path = os.path.join(self.input_dir, "gen", f"g{k:05d}.parquet")
            gen.write_parquet(t, path)
            self.gen_files.append(path)
            self.gen_rows.append(t.num_rows)
            self.gen_deltas.append(g.delta)

    def gen_df(self, k: int):
        return self.spark.read.schema(gen.SOURCE_DDL).parquet(self.gen_files[k])

    def new_table(self, tag: str, io=None) -> Handle:
        path = self.table_path(tag)
        g0 = self.gen_df(0)
        t = SnapshotTable.create(self.spark, path, TRANSCRIPT_MODEL,
                                 schema=g0.schema,
                                 n_buckets=self.p["n_buckets"], io=io)
        t.merge(g0.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
        return Handle(t, path, {"engine": Engine(self.spark, TRANSCRIPT_MODEL, t)})

    def op(self, h: Handle, i: int) -> int:
        res = h.extra["engine"].sync_from(self.gen_df(i + 1))
        if res.get("skipped"):
            raise RuntimeError(f"generation {i + 1} not applied: {res}")
        h.extra["last"] = res
        return self.gen_rows[i + 1]

    def check_op(self, h: Handle, i: int) -> bool:
        # The sync must apply exactly the generator's own change counts.
        # Any divergence left by the previous sync would add changes to
        # this diff, so the chain of checks is a convergence check of every
        # generation; Engine.converged runs on the last one (final_check).
        res = h.extra["last"]
        return all(res.get(k) == v for k, v in self.gen_deltas[i + 1].items())

    def final_check(self, h: Handle, n_ops: int) -> bool:
        return h.extra["engine"].converged(self.gen_df(n_ops))

    def traced_extra(self, h: Handle, i: int, tracer: Tracer) -> None:
        # the diff layer alone: the next generation against the current
        # state, materialised to the noop sink
        if i + 2 >= len(self.gen_files):
            return
        obs = Observation(f"diff{i}")
        with tracer.span("diff") as rec:
            d = diff(self.gen_df(i + 2), h.table.read(), TRANSCRIPT_MODEL)
            d = d.observe(obs, F.count(F.when(F.col("op") != "noop", 1))
                          .alias("changed"))
            d.write.format("noop").mode("overwrite").save()
        rec["changed_rows"] = obs.get["changed"]

    def reference(self, n_ops: int):
        return self.gen_df(n_ops)

    def deleted_candidates(self, n_ops: int, rng, m: int) -> list:
        t = pq.read_table(self.gen_files[n_ops], columns=["conv_id", "turn_idx"])
        live = set(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        k = rng.choice(self.ks.n_rows, 20 * m)
        keys = [(f"conv_{c // TURNS:06d}", int(c % TURNS)) for c in k]
        return [key for key in keys if key not in live][:m]


WORKLOADS = {w.name: w for w in (MorTail, SnapshotSync, CowBackfill)}


# ------------------------------------------------------------------ runner

def _attempt(ops: Ops, what: str, fn) -> tuple[bool, object]:
    """Run one operation; an exception is recorded as a failed attempt and
    returns ``(False, None)``. The caller records a success."""
    try:
        return True, fn()
    except Exception:  # noqa: BLE001 — a failed op is a counted outcome
        ops.record(False, f"{what}: {traceback.format_exc(limit=3)}")
        return False, None


def _probes(wl: Workload, ref, n_ops: int, n: int) -> list:
    """Seeded lookup probes: hot, cold and deleted keys in equal shares,
    each with its reference row (``None`` for a deleted key)."""
    rng = np.random.default_rng([wl.ctx.seed, 5])
    hot = gen.hot_convs(wl.ks, wl.ctx.seed)
    cold = np.setdiff1d(np.arange(wl.ks.n_convs), hot)

    def keys(convs, m):
        return [(f"conv_{c:06d}", int(t)) for c, t in
                zip(rng.choice(convs, m), rng.integers(0, TURNS, m))]

    cands = {"hot": keys(hot, 4 * n), "cold": keys(cold, 4 * n),
             "deleted": wl.deleted_candidates(n_ops, rng, 8 * n)}
    allk = sorted({k for ks in cands.values() for k in ks})
    kdf = wl.spark.createDataFrame(allk, ref.select(*KEYS).schema)
    rows = {tuple(r[c] for c in KEYS): r.asDict()
            for r in ref.join(kdf, KEYS, "left_semi").collect()}
    out = []
    for j, (kind, ks) in enumerate(cands.items()):
        share = n // 3 + (j < n % 3)
        live = kind != "deleted"
        picked = [k for k in dict.fromkeys(ks) if (k in rows) == live]
        out += [(k, rows.get(k)) for k in picked[:share]]
    return out


def run(wl: Workload, session_s: float, jvm_pid: int) -> tuple[dict, dict]:
    """Set up, warm up, run the timed closed loop, then the read probes and
    the correctness gate. Returns (result, evidence): the result holds the
    operation counts, the end-to-end metrics, and in a traced run the
    tracer and the per-layer metrics."""
    ctx, spark, p = wl.ctx, wl.spark, wl.p
    ops = Ops()
    t = time.perf_counter()
    wl.stage()
    stage_s = time.perf_counter() - t

    tracer = io = None
    if ctx.trace:
        io = CountingCommitIO()
        tracer = Tracer(spark, io)
    # set-up is repeated on fresh tables and its median reported; the
    # first bootstrap also pays the JVM's warm-up. The last table is the
    # one measured.
    boot = []
    for k in range(p["setups"]):
        last = k == p["setups"] - 1
        t = time.perf_counter()
        h = wl.new_table("timed" if last else f"setup{k}",
                         io=io if last else None)
        boot.append(time.perf_counter() - t)
        if not last:
            shutil.rmtree(h.path)
    if tracer is not None:
        tracer.wrap(h.table, "merge", "merge", parent=lambda: tracer.current,
                    table_dir=h.path)
        # maintenance runs in the stream thread right after a commit, before
        # the next operation decides whether it is traced: trace it always
        tracer.wrap(h.table, "maintain", "maintain", table_dir=h.path,
                    always=True)
        tracer.current = None
    wl.begin(h)

    def one(i: int, traced: bool) -> tuple[bool, int, float]:
        t = time.perf_counter()
        if traced:
            with tracer.span(wl.op_span) as rec:
                tracer.current = rec["id"]
                done, n = _attempt(ops, f"op {i}", lambda: wl.op(h, i))
        else:
            done, n = _attempt(ops, f"op {i}", lambda: wl.op(h, i))
        dt = time.perf_counter() - t
        if done:
            ops.record(True, "")
            ok_run, ok = _attempt(ops, f"check {i}", lambda: wl.check_op(h, i))
            if ok_run:
                ops.record(bool(ok), f"check {i}: state diverged")
        return done, n, dt

    # ---- untimed warm-up: the workload's own operations on the same table
    t = time.perf_counter()
    n_ok = 0
    healthy = True
    for i in range(p["warm_ops"]):
        healthy, _, _ = one(i, False)
        if not healthy:
            break
        n_ok += 1
    warm_s = time.perf_counter() - t
    setup_s = session_s + stage_s + median(boot) + warm_s

    # ---- timed region: a fixed number of operations, closed loop
    if tracer is not None:
        gc0 = tracer.jvm_gc_s()
        tracer.reset_heap_peak()
    files0, bytes0 = dir_stats(h.path)
    lat, traced_lat, untraced_lat = [], [], []
    rows = busy = 0.0
    n_timed = wl.timed_ops if healthy else 0
    for i in range(n_ok, n_ok + n_timed):
        # in the traced run every other cycle is traced: the untraced ones
        # hold the same mix of operations and give the tracing overhead
        traced = tracer is not None and (i - n_ok) // wl.cycle % 2 == 0
        if tracer is not None:
            tracer.active = traced
        healthy, n, dt = one(i, traced)
        if not healthy:
            break  # the table state after a failed op is not comparable
        busy += dt
        lat.append(dt)
        (traced_lat if traced else untraced_lat).append(dt)
        rows += n
        if traced:
            wl.traced_extra(h, i, tracer)
    n_ok += len(lat)
    wl.end(h)
    files1, bytes1 = dir_stats(h.path)
    if tracer is not None:
        gc_s = tracer.jvm_gc_s() - gc0
        heap_mb = tracer.heap_peak_mb()
        tracer.active = True

    # ---- read path on the final table, then the correctness gate
    t_post = time.perf_counter()
    ref = wl.reference(n_ok)
    if ctx.plant_fault:
        ref = ref.exceptAll(ref.orderBy(*KEYS).limit(1))
    ref = ref.localCheckpoint(eager=True)  # shared by probes and the gate
    probes = _probes(wl, ref, n_ok, p["lookups"])
    # one untimed lookup and scan first: the read path's first call is cold
    for what, fn in (("warm-up lookup", lambda: h.table.lookup(list(probes[0][0]))),
                     ("warm-up scan", lambda: h.table.read().write
                      .format("noop").mode("overwrite").save())):
        done, _ = _attempt(ops, what, fn)
        if done:
            ops.record(True, "")
    look = []
    for key, want in probes:
        t = time.perf_counter()
        with tracer.span("lookup") if tracer else nullcontext():
            done, got = _attempt(ops, f"lookup {key}",
                                 lambda: h.table.lookup(list(key)))
        look.append(time.perf_counter() - t)
        if done:
            ops.record(got == want, f"lookup {key}: got {got}, want {want}")
    scans = []
    for _ in range(p["scans"]):
        t = time.perf_counter()
        with tracer.span("scan") if tracer else nullcontext():
            done, _ = _attempt(ops, "scan", lambda: h.table.read().write
                               .format("noop").mode("overwrite").save())
        scans.append(time.perf_counter() - t)
        if done:
            ops.record(True, "")
    t_gate = time.perf_counter()
    done, ok = _attempt(ops, "final check", lambda: wl.final_check(h, n_ok))
    if done:
        ops.record(bool(ok), "final check: state diverged")
    ok, detail = same_multiset(h.table.read(), ref)
    ops.record(ok, f"final state: {detail}")
    t_end = time.perf_counter()

    commit_tail, tail_pct = tail(lat)
    rss = peak_rss_mb(jvm_pid)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ingest_rows_s": (rows / busy if busy else 0.0, "rows/s"),
        "commit_p50_s": (median(lat), "s"),
        "lookup_p50_s": (median(look), "s"),
        "scan_p50_s": (median(scans), "s"),
        "peak_rss_mb": (rss["jvm"] + rss["python"], "MB"),
        "write_bytes_per_row": ((bytes1 - bytes0) / rows if rows else 0.0,
                                "B/row"),
    }
    evidence = {
        "workload": wl.name, "seed": ctx.seed, "timed_ops": len(lat),
        "input_records": rows, "timed_s": round(busy, 3),
        "commit_s": [round(x, 3) for x in lat],
        # no tail is claimed below 20 samples (10 beyond a p50 or higher)
        "commit_tail": ({"pct": tail_pct, "samples": len(lat),
                         "value_s": round(commit_tail, 3)}
                        if tail_pct else {"pct": None, "samples": len(lat)}),
        "lookup_s": [round(x, 3) for x in look],
        "scan_s": [round(x, 3) for x in scans],
        "setup": {"session_s": round(session_s, 3),
                  "stage_s": round(stage_s, 3),
                  "bootstrap_s": [round(x, 3) for x in boot],
                  "warm_ops": p["warm_ops"], "warm_s": round(warm_s, 3)},
        "files_written": files1 - files0,
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "post_s": {"probes_s": round(t_gate - t_post - sum(look) - sum(scans), 3),
                   "lookups_s": round(sum(look), 3),
                   "scans_s": round(sum(scans), 3),
                   "gate_s": round(t_end - t_gate, 3)},
        "failures": ops.failures[:5],
    }
    result = {"ops": ops, "metrics": metrics, "tracer": tracer}
    if tracer is not None:
        result["per_layer"] = _per_layer(wl, h, tracer, gc_s, heap_mb,
                                         traced_lat, untraced_lat)
        tracer.counts["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
    return result, evidence


def _per_layer(wl: Workload, h: Handle, tracer: Tracer, gc_s: float,
               heap_mb: float, traced_lat: list, untraced_lat: list) -> dict:
    parts = h.table.partitions().collect()
    tracer.attribute()
    m = tracer.med
    folded = lambda r: r.get("bytes_written", 0) > 0  # noqa: E731
    out = {
        "merge.wall_s": (m("merge", "wall_s"), "s"),
        "merge.driver_s": (m("merge", "driver_s"), "s"),
        "merge.jobs": (m("merge", "jobs"), "count"),
        "merge.exec_cpu_s": (m("merge", "exec_cpu_s"), "s"),
        "merge.shuffle_mb": (m("merge", "shuffle_mb"), "MB"),
        "merge.shuffle_stages": (m("merge", "shuffle_stages"), "count"),
        "merge.task_skew": (m("merge", "task_skew"), "ratio"),
        "merge.gc_s": (m("merge", "gc_s"), "s"),
        "merge.files_written": (m("merge", "files_written"), "count"),
        "merge.bytes_written": (m("merge", "bytes_written"), "B"),
        "maintain.wall_s": (m("maintain", "wall_s", folded), "s"),
        "maintain.bytes_rewritten": (m("maintain", "bytes_written", folded), "B"),
        "lookup.jobs": (m("lookup", "jobs"), "count"),
        "lookup.files_read": (m("lookup", "files_read"), "count"),
        "scan.files": (sum(r.n_base_files + r.n_delta_files for r in parts),
                       "count"),
        "scan.delta_layers": (max((r.n_delta_layers for r in parts), default=0),
                              "count"),
        "commitio.calls": (m("merge", "commitio_calls"), "count"),
        "commitio.s": (m("merge", "commitio_s"), "s"),
        "manifest_kb": (m("merge", "manifest_bytes") / 1024, "KB"),
        "stream.overhead_s": (wl.overhead_s(), "s"),
        "diff.wall_s": (m("diff", "wall_s"), "s"),
        "diff.changed_rows": (m("diff", "changed_rows"), "count"),
        "jvm.gc_s": (gc_s, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "trace.overhead_s": (median(traced_lat) - median(untraced_lat)
                             if traced_lat and untraced_lat else 0.0, "s"),
    }
    tracer.counts = {k: v[0] for k, v in out.items()}
    return out

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from diffsync_spark.engine import Engine
from diffsync_spark.errors import ObjectAlreadyExists
from diffsync_spark.model import TRANSCRIPT_MODEL


@pytest.fixture()
def engine(spark, tmp_path, target_df):
    e = Engine.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8,
    )
    e.table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                  checkpoint_id="boot", batch_id=0)
    return e


def test_sync_from_and_convergence(engine, source_df):
    assert not engine.converged(source_df)
    res = engine.sync_from(source_df, batch_id=1)
    assert res["n_create"] > 0
    assert engine.converged(source_df)
    # reference symmetry: diff_to(source) after convergence is also empty
    assert engine.diff_to(source_df).filter("op <> 'noop'").count() == 0


def test_sync_complete_hook(engine, source_df):
    """Signature parity with the reference's sync_complete(source, diff,
    flags, logger) (__init__.py:647-667): same leading args, plus the
    commit result a set-based sync has."""
    calls = []

    class E2(Engine):
        def sync_complete(self, source, diff_df, flags, result):
            calls.append((source, diff_df, flags, result))

    e2 = E2(engine.spark, engine.model, engine.table)
    e2.sync_from(source_df, batch_id=7)
    assert len(calls) == 1 and calls[0][3]["n_create"] > 0
    assert calls[0][0] is source_df            # source passed through
    assert "op" in calls[0][1].columns         # the diff frame
    # converged now → second sync applies nothing → hook NOT fired
    e2.sync_from(source_df, batch_id=8)
    assert len(calls) == 1


def test_log_unchanged_records_flag(engine, source_df, caplog):
    """DiffFlags.log_unchanged_records (reference LOG_UNCHANGED_RECORDS,
    enum.py:83-88): sync logs one line per UNCHANGED record; off by
    default (only changed records are logged via the merge line)."""
    import logging

    from diffsync_spark.flags import DiffFlags

    engine.sync_from(source_df, batch_id=1)  # converge first → noops exist
    with caplog.at_level(logging.INFO, logger="diffsync_spark.metrics"):
        engine.sync_from(source_df, batch_id=2,
                         flags=DiffFlags(log_unchanged_records=True))
    marker = '"event": "unchanged_record"'
    unchanged = [r for r in caplog.records if marker in r.message]
    n_noop = engine.diff_from(source_df).filter("op = 'noop'").count()
    assert len(unchanged) == min(n_noop, 1000) > 0
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="diffsync_spark.metrics"):
        engine.sync_from(source_df, batch_id=3)  # default: flag off
    assert not [r for r in caplog.records if marker in r.message]


def test_diff_complete_hook(engine, source_df, tmp_path):
    """Reference Diff.complete() (diff.py:49-54): a hook fired when the
    diff is populated — here used to persist the diff frame for audit."""
    out = str(tmp_path / "diff_audit")
    d = engine.diff_from(
        source_df,
        on_complete=lambda df: df.filter("op <> 'noop'").write.parquet(out),
    )
    audited = engine.spark.read.parquet(out)
    assert audited.count() == d.filter("op <> 'noop'").count() > 0


def test_record_verbs(engine):
    rec = {"conv_id": "conv_zz", "turn_idx": 0, "role": "user",
           "text": "hi", "tool": None,
           "ts": __import__("datetime").datetime(2024, 6, 1)}
    engine.add(rec)
    assert engine.get(("conv_zz", 0))["text"] == "hi"
    # idempotent same-record add → no-op; different record → raises
    assert engine.add(rec)["skipped"]
    with pytest.raises(ObjectAlreadyExists):
        engine.add({**rec, "text": "other"})
    engine.update({**rec, "text": "edited"})
    assert engine.get(("conv_zz", 0))["text"] == "edited"
    got, created = engine.get_or_instantiate(rec)
    assert not created and got["text"] == "edited"
    engine.remove(("conv_zz", 0))
    assert engine.get_or_none(("conv_zz", 0)) is None


def test_sync_to_symmetric_convergence(engine, spark, tmp_path, source_df):
    """sync_to(target) == target.sync_from(self) — reference
    tests/unit/test_diffsync.py:576-618 analog for the symmetric verb."""
    engine.sync_from(source_df, batch_id=1)
    target = Engine.create(spark, str(tmp_path / "tbl2"), TRANSCRIPT_MODEL,
                           schema=source_df.schema, n_buckets=8)
    res = engine.sync_to(target, batch_id=1)
    assert res["n_create"] > 0
    # target now mirrors the engine's state exactly
    assert target.diff_from(engine.read()).filter("op <> 'noop'").count() == 0
    # and the push is idempotent
    res2 = engine.sync_to(target, batch_id=2)
    assert res2.get("n_create", 0) == 0 and res2.get("n_update", 0) == 0


def test_diff_class_mismatch(engine, source_df):
    """A precomputed frame that is not a diff over this model raises —
    reference DiffClassMismatch (__init__.py:598-604)."""
    from diffsync_spark.errors import DiffClassMismatch

    with pytest.raises(DiffClassMismatch):
        engine.sync_from(source_df, diff_df=source_df)  # raw rows, not a diff
    # the real diff frame passes validation and applies
    d = engine.diff_from(source_df)
    res = engine.sync_from(source_df, diff_df=d, batch_id=1)
    assert res["n_create"] > 0


def test_progress_callback_and_metrics(engine, source_df, caplog):
    """callback(stage, current, total) fires with exact observed counts equal
    to diff_summary, and each merge emits a JSON metrics line (reference
    helpers.py:62-67 callback + logging.py structlog analog)."""
    import json
    import logging

    want = engine.diff_summary(source_df)
    calls = []
    with caplog.at_level(logging.INFO, logger="diffsync_spark.metrics"):
        engine.sync_from(source_df, batch_id=1,
                         callback=lambda s, cur, tot: calls.append((s, cur, tot)))
    stages = dict((s, (c, t)) for s, c, t in calls)
    n_changed = want["n_create"] + want["n_update"] + want["n_delete"]
    n_total = n_changed + want["n_noop"]
    assert stages["diff"] == (n_total, n_total)
    assert stages["sync"] == (n_changed, n_changed)
    lines = [json.loads(r.message) for r in caplog.records
             if r.name == "diffsync_spark.metrics"]
    assert any(
        l["event"] == "merge_commit" and l.get("n_create") == want["n_create"]
        and l.get("write_regime") in ("one_partition", "shuffle")
        for l in lines
    )


def test_remove_cascade(engine, target_df):
    victim = target_df.first()
    n_turns = engine.read().filter(F.col("conv_id") == victim.conv_id).count()
    assert n_turns > 1
    engine.remove((victim.conv_id, victim.turn_idx), remove_children=True)
    assert engine.read().filter(F.col("conv_id") == victim.conv_id).count() == 0

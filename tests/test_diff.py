"""Differential tests: Spark diff vs the pure-Python oracle, plus the
reference's own properties (symmetry, flags, intersection semantics)."""

from __future__ import annotations

import pandas as pd
import pytest

from diffsync_spark import DiffFlags, diff, diff_summary
from diffsync_spark.fixtures import evolve
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.operators.diff import has_diffs
from diffsync_spark.oracle import oracle_diff

IDS = ["conv_id", "turn_idx"]
ATTRS = ["role", "text", "tool"]


def _collect_ops(diff_df) -> dict[tuple, tuple[str, list[str]]]:
    rows = diff_df.collect()
    return {
        (r.conv_id, r.turn_idx): (r.op, sorted(r.changed_cols or []))
        for r in rows
    }


@pytest.fixture(scope="module")
def spark_ops(source_df, target_df):
    return _collect_ops(diff(source_df, target_df, TRANSCRIPT_MODEL))


@pytest.fixture(scope="module")
def oracle_ops(source_pdf, target_pdf):
    return {
        k: (op, sorted(ch))
        for k, (op, ch) in oracle_diff(source_pdf, target_pdf, IDS, ATTRS).items()
    }


def test_diff_matches_oracle(spark_ops, oracle_ops):
    assert spark_ops == oracle_ops
    # sanity: the fixture mix produces every op kind
    ops = {op for op, _ in spark_ops.values()}
    assert ops == {"create", "update", "delete", "noop"}


def test_diff_payloads(source_df, target_df, source_pdf, target_pdf):
    d = diff(source_df, target_df, TRANSCRIPT_MODEL).filter("op = 'update'")
    row = d.first()
    src_row = source_pdf[
        (source_pdf.conv_id == row.conv_id) & (source_pdf.turn_idx == row.turn_idx)
    ].iloc[0]
    dst_row = target_pdf[
        (target_pdf.conv_id == row.conv_id) & (target_pdf.turn_idx == row.turn_idx)
    ].iloc[0]
    assert row.after.text == src_row.text
    assert row.before.text == dst_row.text
    # creates carry after only; deletes carry before only (None-vs-{} rule)
    c = diff(source_df, target_df, TRANSCRIPT_MODEL).filter("op = 'create'").first()
    assert c.before is None and c.after is not None
    dl = diff(source_df, target_df, TRANSCRIPT_MODEL).filter("op = 'delete'").first()
    assert dl.after is None and dl.before is not None


def test_diff_symmetry(source_df, target_df):
    """diff_to ≡ reversed(diff_from) — reference
    tests/unit/test_diffsync.py:519-537."""
    fwd = _collect_ops(diff(source_df, target_df, TRANSCRIPT_MODEL))
    rev = _collect_ops(diff(target_df, source_df, TRANSCRIPT_MODEL))
    swap = {"create": "delete", "delete": "create", "update": "update", "noop": "noop"}
    assert {k: (swap[op], ch) for k, (op, ch) in fwd.items()} == rev


def test_skip_flags(source_df, target_df, oracle_ops):
    no_create = _collect_ops(
        diff(source_df, target_df, TRANSCRIPT_MODEL, DiffFlags(skip_unmatched_src=True))
    )
    assert all(op != "create" for op, _ in no_create.values())
    assert no_create == {k: v for k, v in oracle_ops.items() if v[0] != "create"}
    no_delete = _collect_ops(
        diff(source_df, target_df, TRANSCRIPT_MODEL, DiffFlags(skip_unmatched_dst=True))
    )
    assert all(op != "delete" for op, _ in no_delete.values())
    both = _collect_ops(
        diff(
            source_df,
            target_df,
            TRANSCRIPT_MODEL,
            DiffFlags(skip_unmatched_src=True, skip_unmatched_dst=True),
        )
    )
    assert {op for op, _ in both.values()} <= {"update", "noop"}


def test_keep_noop_false(source_df, target_df):
    d = diff(source_df, target_df, TRANSCRIPT_MODEL, DiffFlags(keep_noop=False))
    assert d.filter("op = 'noop'").count() == 0


def test_ignore_predicate(spark, source_df, target_df):
    from pyspark.sql import functions as F

    d = diff(
        source_df, target_df, TRANSCRIPT_MODEL, ignore=F.col("role") == "tool"
    )
    # ignored rows excluded from BOTH sides → no key with role=tool on either
    keys = {(r.conv_id, r.turn_idx) for r in d.collect()}
    src_tool = {
        (r.conv_id, r.turn_idx)
        for r in source_df.filter("role = 'tool'")
        .join(target_df.filter("role = 'tool'"), IDS, "inner")
        .select(*IDS)
        .collect()
    }
    assert not (keys & src_tool)


def test_schema_evolution_no_spurious_diff(spark, source_pdf, source_df):
    """A column present on one side only never produces a diff
    (reference diff.py:266-279) but flows through ``after``."""
    evolved = spark.createDataFrame(evolve(source_pdf))
    d = diff(evolved, source_df, TRANSCRIPT_MODEL)
    assert not has_diffs(d)
    # evolved column rides along in `after` for apply to propagate
    assert "tool_call_id" in [f.name for f in d.schema["after"].dataType.fields]


def test_undeclared_shared_column_not_compared(spark, source_pdf, source_df):
    """An undeclared bookkeeping column present on BOTH sides (e.g. ``seq``)
    is never compared by default — only declared ``_attributes`` are, like
    the reference (diff.py:266-279). It still rides in the payload. With
    ``compare_undeclared=True`` it is compared like a declared attribute."""
    import dataclasses

    from pyspark.sql import functions as F

    src = source_df.withColumn("seq", F.monotonically_increasing_id())
    dst = source_df.withColumn("seq", F.lit(-1).cast("long"))
    d = diff(src, dst, TRANSCRIPT_MODEL)
    assert not has_diffs(d)  # differing seq produced no spurious update
    assert "seq" in [f.name for f in d.schema["after"].dataType.fields]

    opted = dataclasses.replace(TRANSCRIPT_MODEL, compare_undeclared=True)
    d2 = diff(src, dst, opted)
    row = diff_summary(d2).first()
    assert row.n_update == src.count()  # every row differs on seq when opted in


def test_diff_summary(source_df, target_df, oracle_ops):
    row = diff_summary(diff(source_df, target_df, TRANSCRIPT_MODEL)).first()
    from collections import Counter

    want = Counter(op for op, _ in oracle_ops.values())
    assert (row.n_create, row.n_update, row.n_delete, row.n_noop) == (
        want["create"],
        want["update"],
        want["delete"],
        want["noop"],
    )

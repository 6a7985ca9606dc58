"""The keyed diff — the engine's core operator.

Reference semantics being reproduced (studied, not copied):

- ``diff_object_list`` builds a hash full-outer join on uid over the union of
  keys (``/root/reference/diffsync/helpers.py:102-138``).
- ``diff_object_pair`` + ``DiffElement.action`` classify each pair into
  create / update / delete / no-change (``helpers.py:163-234``,
  ``diffsync/diff.py:236-254``).
- Only the *intersection* of the two sides' attribute sets is compared —
  the schema-evolution rule (``diff.py:266-279``, ``utils.py:31-34``).
- ``get_attrs_diffs`` emits ``{"-": old, "+": new}`` per changed attribute
  (``diff.py:281-305``).
- SKIP_UNMATCHED_SRC / SKIP_UNMATCHED_DST flags suppress creates / deletes
  (``helpers.py:187-201``) — here they *change the join type* so Catalyst can
  prune a whole outer side rather than filtering after the fact.

Spark-first rendering: the whole classification is ONE declarative plan —
a null-safe full-outer equi-join on the natural key plus pure column
expressions (``when``/``array_compact``/``struct``). Everything stays inside
whole-stage codegen; no Python touches a row. Because the join key is the
full natural key ``(conv_id, turn_idx)`` (high cardinality), hash shuffle
spreads hot conversations across partitions by construction; AQE skew-join
is the backstop.

Output schema (the "diff frame"):

    <identifier cols>  op string  changed_cols array<string>
    before struct<payload of target side>  after struct<payload of source side>

``before``/``after`` are null when that side is absent (create/delete) —
the reference's None-vs-{} distinction (``diff.py:257-264``). ``after``
carries source-only evolved columns so apply can propagate new columns even
though the comparison ignored them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from diffsync_spark.flags import DiffFlags
from diffsync_spark.model import ModelSchema

OP_CREATE = "create"
OP_UPDATE = "update"
OP_DELETE = "delete"
OP_NOOP = "noop"
OPS = (OP_CREATE, OP_UPDATE, OP_DELETE, OP_NOOP)

_SRC_MARK = "__diffsync_src_present"
_DST_MARK = "__diffsync_dst_present"


def _payload_cols(model: ModelSchema, df: DataFrame) -> list[str]:
    """Effective attribute + version columns present on this side — includes
    evolved (undeclared) columns via ``ModelSchema.payload_attrs_in``."""
    cols = model.payload_attrs_in(df)
    present = set(df.columns)
    cols += [c for c in model.version_cols if c in present and c not in cols]
    return cols


def diff(
    source: DataFrame,
    target: DataFrame,
    model: ModelSchema,
    flags: DiffFlags = DiffFlags(),
    ignore: Column | None = None,
) -> DataFrame:
    """Keyed diff of two snapshots: which ops turn ``target`` into ``source``.

    ``source`` is the desired state, ``target`` the current state (matches the
    reference's ``dst.diff_from(src)`` orientation, ``__init__.py:673-696``).
    ``ignore`` is an optional boolean column expression evaluated on each input
    frame; matching rows are excluded before the join — the per-record IGNORE
    flag (``enum.py:26-30``) as a pushed-down predicate.
    """
    model.validate_frame(source)
    model.validate_frame(target)
    ids = list(model.identifiers)
    src_payload = _payload_cols(model, source)
    dst_payload = _payload_cols(model, target)
    shared = model.shared_attrs(source, target)

    if ignore is not None:
        source = source.filter(~F.coalesce(ignore, F.lit(False)))
        target = target.filter(~F.coalesce(ignore, F.lit(False)))

    s = source.select(*ids, *src_payload).withColumn(_SRC_MARK, F.lit(True)).alias("s")
    d = target.select(*ids, *dst_payload).withColumn(_DST_MARK, F.lit(True)).alias("d")

    # plain equality on the natural key: identifiers are non-null by contract
    # (the reference's uid is built from them, __init__.py:319-325; our merge
    # path quarantines null-key rows). eqNullSafe would compile to
    # coalesce/isnull composite shuffle keys, defeating exchange reuse when
    # the diff is chained after a window or another join on the same key.
    cond = None
    for k in ids:
        c = F.col(f"s.{k}") == F.col(f"d.{k}")
        cond = c if cond is None else cond & c
    joined = s.join(d, cond, flags.join_how)

    src_present = F.col(f"s.{_SRC_MARK}").isNotNull()
    dst_present = F.col(f"d.{_DST_MARK}").isNotNull()

    def neq(c: str) -> Column:
        return ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))

    any_change = F.lit(False)
    for c in shared:
        any_change = any_change | neq(c)

    op = (
        F.when(~dst_present, F.lit(OP_CREATE))
        .when(~src_present, F.lit(OP_DELETE))
        .when(any_change, F.lit(OP_UPDATE))
        .otherwise(F.lit(OP_NOOP))
    )

    if shared:
        changed = F.when(
            op == OP_UPDATE,
            F.array_compact(
                F.array(*[F.when(neq(c), F.lit(c)) for c in shared])
            ),
        ).cast("array<string>")
    else:
        changed = F.lit(None).cast("array<string>")

    before = (
        F.when(dst_present, F.struct(*[F.col(f"d.{c}").alias(c) for c in dst_payload]))
        if dst_payload
        else F.lit(None).cast("struct<>")
    )
    after = (
        F.when(src_present, F.struct(*[F.col(f"s.{c}").alias(c) for c in src_payload]))
        if src_payload
        else F.lit(None).cast("struct<>")
    )

    out = joined.select(
        *[F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k) for k in ids],
        op.alias("op"),
        changed.alias("changed_cols"),
        before.alias("before"),
        after.alias("after"),
    )
    if not flags.keep_noop:
        out = out.filter(F.col("op") != OP_NOOP)
    return out


def diff_summary(diff_df: DataFrame) -> DataFrame:
    """Roll diff ops up to counts — reference ``Diff.summary()``
    (``diffsync/diff.py:110-131``). One wide row:
    ``(n_create, n_update, n_delete, n_noop)``."""
    return diff_df.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("op") == o, 1)), F.lit(0)).alias(f"n_{o}")
            for o in OPS
        ]
    )


def has_diffs(diff_df: DataFrame) -> bool:
    """Any actionable difference? Reference ``Diff.has_diffs()``
    (``diffsync/diff.py:72-83``). Limit-1 probe, not a full count."""
    return bool(diff_df.filter(F.col("op") != OP_NOOP).take(1))

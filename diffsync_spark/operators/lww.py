"""Last-writer-wins dedup — MERGE source uniqueness + conflict resolution.

Not present in the reference (its diff is snapshot-based, one object per uid
by construction of the keyed store, ``/root/reference/diffsync/store/local.py:20``);
required by the CDC generalization (BASELINE.json north_star: "last-writer-wins
conflict resolution by ts"). MERGE requires unique source keys, so every batch
is reduced to one winner per natural key first.

Determinism: ties on ``ts`` are broken by the changelog's monotone ``seq``
(SURVEY §7 "LWW determinism") — the ordering is total, so the winner is
unique and replay is reproducible. The pure-Python oracle uses the same
tie-break.

Scale: ``row_number`` over ``partitionBy(natural key)`` shuffles on the FULL
key — high cardinality, so hot conversations spread across partitions;
no skew salting needed here. The window sorts only within tiny per-key
groups (dup counts per batch), not globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from diffsync_spark.model import ModelSchema


def lww_dedup(
    df: DataFrame,
    model: ModelSchema,
    order_cols: tuple[str, ...] | None = None,
    cluster_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Keep the last writer per natural key.

    ``order_cols`` defaults to ``model.version_cols`` plus ``seq`` if present
    (newest = max). Output drops the helper rank column; schema otherwise
    unchanged.

    ``cluster_cols`` are columns derived from the natural key (e.g. a
    table's bucket and writer slot), placed in front of the window's
    partition key. The groups are the same, but an upstream
    ``repartition(*cluster_cols)`` then satisfies the window's
    distribution, so the window adds no Exchange of its own.
    """
    model.validate_frame(df)
    if order_cols is None:
        order_cols = tuple(model.version_cols)
        if "seq" in df.columns and "seq" not in order_cols:
            order_cols = order_cols + ("seq",)
    if not order_cols:
        raise ValueError("lww_dedup needs version/order columns")
    # desc_nulls_FIRST: a null version only occurs on deletes (merge()
    # quarantines null-version upserts), and the cross-batch rule
    # (SnapshotTable.merge / patch_snapshot) treats a null-ts delete as
    # always-newest ("explicit admin delete"). The in-batch tie rule must
    # match, or a null-ts delete + update for the same key converges to a
    # different state depending on whether they share a batch — violating
    # batching invariance (tested: test_batching_invariance_null_ts_delete).
    w = Window.partitionBy(*cluster_cols, *model.identifiers).orderBy(
        *[F.col(c).desc_nulls_first() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

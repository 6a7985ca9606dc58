from diffsync_spark.operators.diff import diff, diff_summary, has_diffs
from diffsync_spark.operators.lww import lww_dedup
from diffsync_spark.operators.rollup import (
    order_by_action,
    order_elements,
    rollup_diff,
    stable_turn_order,
)
from diffsync_spark.operators.store_ops import (
    get,
    get_all,
    get_by_uids,
    get_or_none,
    count,
)

__all__ = [
    "diff",
    "diff_summary",
    "has_diffs",
    "lww_dedup",
    "order_by_action",
    "order_elements",
    "rollup_diff",
    "stable_turn_order",
    "get",
    "get_all",
    "get_by_uids",
    "get_or_none",
    "count",
]

"""Driver-side write of a merge-on-read delta layer from one Arrow table.

The counterpart of :mod:`diffsync_spark.sinks.arrow_read` for the write
side: :meth:`SnapshotTable._append_commit` collects a small batch's
projection (validity flags, cast payload, ``_seq``/``_deleted``, bucket and
slot, all computed by Spark) with one ``toArrow()`` and replaces only the
LWW window and the partitioned write with the functions here, so a small
CDC append launches no Spark write job.

The files match what Spark's writer produces for the same rows: one file
per ``_bucket=K/__slot=S`` dir, rows ordered by the natural key, top-level
parquet field ids (``PARQUET:field_id``), INT64-micros timestamps and
every column optional. They carry no Spark footer keys: Spark reads their
timestamps by ``spark.sql.parquet.datetimeRebaseModeInRead``, whose default
(``CORRECTED``) is the proleptic Gregorian calendar pyarrow writes.

pyarrow is imported inside the functions, as in ``arrow_read``.
"""

from __future__ import annotations

import os
import uuid
from typing import Sequence

from diffsync_spark.sinks.arrow_read import PARQUET_FIELD_ID

# Spark's spark.sql.parquet.compression.codec values pyarrow writes the same
# way; any other codec (lzo) keeps the Spark write
ARROW_CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
                "gzip": "gzip", "brotli": "brotli", "lz4": "lz4",
                "lz4_raw": "lz4", "zstd": "zstd"}


def lww_winners(tbl, keys: Sequence[str], order: Sequence[str]):
    """One row per ``keys`` group, the group's first by ``order``, each
    column descending with NULLS FIRST (:func:`~diffsync_spark.operators.
    lww.lww_dedup`'s order), returned sorted by ``keys``. The keys are
    non-null (rows with a null identifier are quarantined first), so one
    global ``null_placement`` serves every sort key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if tbl.num_rows == 0:
        return tbl
    idx = pc.sort_indices(
        tbl,
        sort_keys=[(k, "ascending") for k in keys]
        + [(c, "descending") for c in order],
        null_placement="at_start",
    )
    tbl = tbl.take(idx)
    first = np.zeros(tbl.num_rows, dtype=bool)
    first[0] = True
    n = tbl.num_rows
    for k in keys:
        col = tbl.column(k)
        first[1:] |= pc.not_equal(col.slice(1), col.slice(0, n - 1)) \
            .to_numpy(zero_copy_only=False)
    return tbl.filter(pa.array(first))


def file_schema(arrow_schema, field_ids: dict[str, int]):
    """``arrow_schema`` as a data file stores it: every column optional
    (Spark writes parquet columns nullable), with top-level field ids from
    ``field_ids``."""
    import pyarrow as pa

    fields = [
        pa.field(f.name, f.type, nullable=True,
                 metadata=({PARQUET_FIELD_ID: str(field_ids[f.name]).encode()}
                           if f.name in field_ids else None))
        for f in arrow_schema
    ]
    return pa.schema(fields)


def _dictionary_pays(col) -> bool:
    """parquet-mr's dictionary fallback, which Spark's files follow: a
    column chunk stays dictionary-encoded only while its distinct values
    plus the bit-packed indices take fewer bytes than the plain values
    (pyarrow would keep the dictionary of an all-distinct column)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    valid = col.drop_null()
    typ = valid.type
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        width = None
    elif (pa.types.is_primitive(typ) or pa.types.is_decimal(typ)) \
            and not pa.types.is_boolean(typ):
        width = typ.bit_width // 8
    else:
        return True  # booleans and nested types: left to pyarrow
    if len(valid) == 0:
        return False  # all null: no values to encode

    def plain(a) -> int:
        if width is not None:
            return len(a) * width
        return (pc.sum(pc.binary_length(a)).as_py() or 0) + 4 * len(a)

    uniq = pc.unique(valid)
    # the indices as one bit-packed run: a bit-width byte, a run header and
    # ceil(n / 8) groups of 8 indices, `bits` bytes each
    indices = 2 + -(-len(valid) // 8) * (len(uniq) - 1).bit_length()
    return plain(uniq) + indices < plain(valid)


def write_slot_files(tbl, data_dir: str, bucket_col: str, slot_col: str,
                     schema, codec: str) -> None:
    """Write ``tbl`` (sorted by bucket, slot) as one parquet file per
    (bucket, slot) run under ``data_dir/<bucket_col>=K/<slot_col>=S/``, the
    columns of ``schema`` (a :func:`file_schema`) in its order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if tbl.num_rows == 0:
        return
    b = tbl.column(bucket_col).to_numpy()
    s = tbl.column(slot_col).to_numpy()
    cuts = np.flatnonzero((b[1:] != b[:-1]) | (s[1:] != s[:-1])) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [tbl.num_rows]))
    out = pa.Table.from_arrays(
        [tbl.column(f.name) for f in schema], schema=schema)
    tag = uuid.uuid4().hex
    for i, (lo, hi) in enumerate(zip(starts, ends)):
        d = os.path.join(data_dir, f"{bucket_col}={b[lo]}",
                         f"{slot_col}={s[lo]}")
        os.makedirs(d, exist_ok=True)
        part = out.slice(lo, hi - lo)
        pq.write_table(
            part, os.path.join(d, f"part-{i:05d}-{tag}.c000.parquet"),
            compression=ARROW_CODECS[codec], store_schema=False,
            use_dictionary=[c for c in part.column_names
                            if _dictionary_pays(part.column(c))],
        )

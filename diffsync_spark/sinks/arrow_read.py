"""Arrow-side reads of SnapshotTable data files, with no Spark job.

Two readers share these helpers: the ``diffsync_table`` DataSource (in
Python workers, see :mod:`diffsync_spark.sources.datasource`) and the
driver-side point lookup (:meth:`SnapshotTable.lookup`). Both must resolve
columns and fold merge-on-read rows exactly as the engine's Spark reads do:

- columns resolve the way Spark's ``spark.sql.parquet.fieldId.read`` does —
  a table field that carries a parquet field id matches a file column by
  that id only (a dropped and re-added column gets a fresh id, so old files
  read it as NULL), and by name only when the field or the file has no ids;
- the fold keeps one winner per key by ``SnapshotTable._fold``'s order.

pyarrow/pandas are imported inside the functions: the module loads in
workers and on drivers that never read through Arrow.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import types as T

FIELD_ID_KEY = "parquet.field.id"  # Spark's StructField metadata key
PARQUET_FIELD_ID = b"PARQUET:field_id"  # pyarrow's field metadata key


def _resolve_columns(file_schema, want: T.StructType, extra: Sequence[str]):
    """Rename-safe column resolution plan for one data file: for every
    wanted table field, the file column index to take. A field with a
    parquet id matches by id only when the file carries ids (Spark's
    ``fieldId.read`` rule); id-less fields and id-less files match by name;
    absent -> None (NULL fill). ``extra`` columns match by name. Returns
    ``(names, idxs, defaults)`` where ``defaults[i]`` is the fill value for
    an absent extra column."""
    by_id: dict[int, int] = {}
    for i, f in enumerate(file_schema):
        fid = (f.metadata or {}).get(PARQUET_FIELD_ID)
        if fid is not None:
            by_id[int(fid)] = i
    names, idxs, defaults = [], [], []
    for f in list(want.fields):
        fid = (f.metadata or {}).get(FIELD_ID_KEY)
        if fid is not None and by_id:
            idx = by_id.get(int(fid))
        elif f.name in file_schema.names:
            idx = file_schema.names.index(f.name)
        else:
            idx = None
        names.append(f.name)
        idxs.append(idx)
        defaults.append(None)
    for name in extra:
        names.append(name)
        if name in file_schema.names:
            idxs.append(file_schema.names.index(name))
            defaults.append(None)
        else:
            idxs.append(None)
            defaults.append({"_seq": -1, "_deleted": False, "__commit": 0}[name])
    return names, idxs, defaults


def _project(tbl, names, idxs, defaults):
    """Apply a :func:`_resolve_columns` plan to an arrow table/batch."""
    import pyarrow as pa

    n = tbl.num_rows
    cols = []
    for idx, default in zip(idxs, defaults):
        if idx is not None:
            cols.append(tbl.column(idx))
        elif default is None:
            cols.append(pa.nulls(n, type=pa.null()))
        else:
            cols.append(pa.array([default] * n))
    return pa.table(dict(zip(names, cols)))


def _cast_table(tbl, schema: T.StructType):
    """Column-wise cast an arrow table to the Spark schema's arrow form
    (absent columns become typed NULLs)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    out = []
    for f in arrow_schema:
        col = tbl.column(f.name) if f.name in tbl.schema.names else None
        if col is None:
            col = pa.nulls(tbl.num_rows, type=f.type)
        out.append(col.cast(f.type))
    return pa.table(dict(zip(arrow_schema.names, out))).cast(arrow_schema)


def _lww_fold_chunk(pdf, ids: list, vcols: list):
    """The committed LWW fold rule over one pandas chunk, EXACTLY as
    table.py _fold: version_cols[0] DESC NULLS FIRST, _seq DESC NULLS LAST,
    __commit ASC. pandas' ``na_position`` is global, so a null flag sorted
    ahead of ``_seq`` puts its nulls last (exact for any int64 ``_seq``)."""
    pdf = pdf.assign(__seq_null=pdf["_seq"].isna())
    order = vcols[:1] + ["__seq_null", "_seq", "__commit"]
    asc = [False] * len(vcols[:1]) + [True, False, True]
    pdf = pdf.sort_values(order, ascending=asc, na_position="first",
                          kind="mergesort")
    return pdf.drop_duplicates(subset=ids, keep="first").drop(
        columns="__seq_null")


def _read_key_rows(path: str, want: T.StructType, key: dict):
    """The rows of one data file whose columns equal ``key`` (column name
    -> arrow scalar of the column's type in ``want``), resolved and cast to
    ``want``. The key predicate is pushed down in the FILE's column names
    and types, so row groups whose min/max exclude the key are never
    decoded (write-ordered files hold a key in one row group); the exact
    match is then taken on the cast columns."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    dset = ds.dataset(path, format="parquet")
    fschema = dset.schema
    plan = _resolve_columns(fschema, want, [])
    pred = None
    for name, idx in zip(plan[0], plan[1]):
        if name not in key or idx is None:  # absent: NULL, matched below
            continue
        field = fschema.field(idx)
        try:
            probe = key[name].cast(field.type)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                pa.ArrowTypeError):
            continue  # no pushdown for this column; the exact match below
        term = pc.field(field.name) == probe
        pred = term if pred is None else pred & term
    tbl = _cast_table(_project(dset.to_table(filter=pred), *plan), want)
    mask = None
    for name, probe in key.items():
        eq = pc.equal(tbl.column(name), probe)
        mask = eq if mask is None else pc.and_(mask, eq)
    return tbl.filter(mask)

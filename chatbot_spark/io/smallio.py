"""Driver-side parquet IO for METADATA-SIZED index tables (r13, guide
§1.2 per-task work / §5 "the driver should do almost no data work" —
inverted: these tables do almost no DATA work, so Spark should do no
JOB work for them).

Every ANN index family persists, next to its data-sized table (cells /
graph / codes), a handful of driver-resident side tables: centroids
(bounded by nlist — they exist because a driver-side numpy fit produced
them), codebooks (m x ksub rows), scalar-quantizer bounds (1 row), the
metric/m2 meta row, tombstone id sets. A Spark parquet write JOB has a
~0.5-0.7 s floor regardless of payload (committer setup, task launch,
rename protocol), and a read-back costs a scan job plus footer
inference — measured ~1.4-2 s of pure scheduling per index write+load
at any scale, since these tables never grow with the corpus. Writing
and reading them DRIVER-SIDE via pyarrow is ~2 ms and is exactly as
portable: the on-disk artifact is a standard parquet part file plus the
same empty ``_SUCCESS`` marker Spark's committer leaves (the marker is
load-bearing: plans/retrieve._index_content_stamp fingerprints it).

Scope guard: these helpers are for tables whose size is bounded by
CONSTRUCTION (nlist, m x ksub, |tombstones|), never for corpus-sized
data — the data tables keep the distributed write/scan. Non-local
paths (object stores, hdfs) fall back to the Spark writer/reader, so
cluster deployments behave exactly as before.

Driver-held rows become a DataFrame only through :func:`local_df`.
``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``
over a ``PythonRDD`` (``_createFromLocal`` -> ``sc.parallelize`` -> a
``_reserialize`` map), so EVERY execution of such a DataFrame starts
Python workers and pays their per-task start-up: a warm 1-row (or
empty) list DataFrame collects in 0.26-0.47 s on local[4] (4-core Xeon,
7 collects each), the same rows as an Arrow ``LocalTableScan`` in
3-9 ms. ``local_df`` types
one Arrow table from the schema and hands it to
``spark.createDataFrame(table, schema)``: below
``spark.sql.execution.arrow.localRelationThreshold`` (Spark's default,
48 MB) the plan is a ``LocalTableScan`` (exact size statistics, trivially
broadcast); above it Spark keeps the batches in a JVM RDD of Arrow
batches (``Scan ExistingRDD arrow``). Neither is a ``PythonRDD``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

__all__ = [
    "arrow_table",
    "local_df",
    "is_local_path",
    "write_small_parquet",
    "read_small_arrow",
    "read_small_df",
]


def _struct(schema):
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(st, StructType):
        raise TypeError(f"schema must describe a struct, got {schema!r}")
    return st


def _column(values, spark_type, arrow_type):
    import pyarrow as pa
    from pyspark.sql.types import TimestampType

    if isinstance(spark_type, TimestampType):
        # createDataFrame(rows) reads a naive datetime in the process's
        # local zone (TimestampType.toInternal -> time.mktime), which is
        # also what collect() hands back; astimezone() makes that explicit
        values = [
            v.astimezone() if v is not None and v.tzinfo is None else v
            for v in values
        ]
    return pa.array(values, type=arrow_type)


def arrow_table(data, schema):
    """One ``pyarrow.Table`` typed from ``schema`` (DDL string or
    ``StructType``): the driver-side form :func:`local_df` ships and the
    index writers persist. ``data`` is a list of tuples or ``Row``s
    (positional, numpy scalars allowed), a ``pyarrow.Table`` or a pandas
    frame (columns taken by position)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _struct(schema)
    target = to_arrow_schema(st)
    if isinstance(data, pa.Table):
        return data.rename_columns(target.names).cast(target)
    if isinstance(data, pd.DataFrame):
        cols = [
            pa.Array.from_pandas(data.iloc[:, i], type=target.field(i).type)
            for i in range(len(st.fields))
        ]
        return pa.Table.from_arrays(cols, schema=target)
    rows = list(data)
    width = len(st.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row {r!r} has {len(r)} fields, schema has {width}")
    by_col = list(zip(*rows)) if rows else [()] * width
    cols = [
        _column(vals, f.dataType, target.field(i).type)
        for i, (vals, f) in enumerate(zip(by_col, st.fields))
    ]
    return pa.Table.from_arrays(cols, schema=target)


def local_df(spark, data, schema=None):
    """A DataFrame over driver-held ``data`` built through Arrow — the
    one way driver rows enter a plan (never a ``PythonRDD``; see the
    module docstring). ``data``/``schema`` as in :func:`arrow_table`;
    a ``pyarrow.Table`` may omit ``schema`` and keeps its own."""
    import pyarrow as pa

    if schema is None:
        if not isinstance(data, pa.Table):
            raise TypeError("local_df needs a schema unless data is a pyarrow.Table")
        return spark.createDataFrame(data)
    st = _struct(schema)
    return spark.createDataFrame(arrow_table(data, st), st)


def is_local_path(path: str) -> bool:
    """True when ``path`` addresses the local filesystem (no scheme, or
    an explicit file: scheme) — the only case the pyarrow fast path
    handles; everything else takes the Spark fallback.

    Allowlist, not blocklist (r13 ADVICE): any URI scheme other than
    file: — including single-slash forms like ``dbfs:/x`` or
    ``alluxio:/x`` — goes through Spark, so index side tables can never
    silently land on the driver's local disk while the data tables go
    through the Hadoop FS. A Windows drive letter (``C:\\x``) is not a
    scheme; RFC 3986 schemes are >= 2 chars here, which keeps those
    local."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]+):", path)
    if m is None:
        return True
    return m.group(1).lower() == "file"


def _strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def write_small_parquet(spark, path: str, table) -> None:
    """Overwrite-write a driver-resident ``pyarrow.Table`` as a parquet
    dataset at ``path`` (one part file + ``_SUCCESS``), with zero Spark
    jobs on local paths. Layout-compatible with a Spark write: any
    ``spark.read.parquet(path)`` (or pyarrow read) sees the same data."""
    if not is_local_path(path):
        local_df(spark, table).write.mode("overwrite").parquet(path)
        return
    import pyarrow.parquet as pq

    local = _strip_scheme(path)
    tmp = f"{local}.__smallio_tmp__{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    # overwrite semantics: build the replacement fully, then swap — a
    # reader never sees a half-written dataset (same contract as the
    # Spark committer's staging-dir rename)
    if os.path.isdir(local):
        shutil.rmtree(local)
    elif os.path.exists(local):
        os.unlink(local)
    os.replace(tmp, local)


def read_small_arrow(spark, path: str):
    """Read a (small) parquet dataset as a ``pyarrow.Table`` without a
    Spark job when the path is local; None when it isn't (caller falls
    back to the Spark reader). Raises like the Spark reader on a missing
    dataset."""
    if not is_local_path(path):
        return None
    import pyarrow.parquet as pq

    local = _strip_scheme(path)
    if not os.path.isdir(local):
        if os.path.isfile(local):
            return pq.read_table(local)
        raise FileNotFoundError(f"[PATH_NOT_FOUND] {path}")
    parts = sorted(
        os.path.join(local, f)
        for f in os.listdir(local)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not parts:
        raise FileNotFoundError(f"[PATH_NOT_FOUND] no parquet parts in {path}")
    import pyarrow as pa

    return pa.concat_tables([pq.read_table(p) for p in parts])


def read_small_df(spark, path: str):
    """(DataFrame, pyarrow.Table | None) for a small parquet dataset:
    local paths come back as a driver-local table (LocalTableScan plan —
    joins against it broadcast trivially, and the arrow table gives the
    caller driver-side values with no collect job); non-local paths fall
    back to the distributed reader with table=None."""
    tbl = read_small_arrow(spark, path)
    if tbl is None:
        return spark.read.parquet(path), None
    return local_df(spark, tbl), tbl

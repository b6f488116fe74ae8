"""Parquet source registry for the test corpus.

One parquet file per table (TPC-H-ish star schema + events/documents/
embeddings). At 100 TB each "table" would be a partitioned parquet dataset —
`spark.read.parquet(dir)` is identical either way; filters/projections push
down to the scan and partition pruning applies when the layout is
`.../table/dt=.../part-*.parquet`.

Every table read goes through `read_parquet`. A bare
`spark.read.parquet(path)` starts one Spark job per call to infer the
schema from a file footer (~100 ms locally), even when the directory has
not changed since the last read; the serving routes read the same
published tables on every request, so that job was up to half of a point
lookup's jobs. `read_parquet` infers a path's schema once and passes it
back through `spark.read.schema(s).parquet(path)`, which starts no job.
The file listing still happens on every read, so appends and compaction
swaps are seen exactly as before.

The cache is keyed by file identity, not by path: the sorted
(relative name, size, mtime_ns) of the data files Spark would list
(`_`- and `.`-prefixed names are skipped, as Spark skips them). The same
files have the same footers, so a cached schema is only ever returned
for the files it was inferred from; any write, append or swap changes
the key and the next read infers again, once. (Spark writes uniquely
named part files; a file rewritten in place under its old name changes
its size or mtime, unless it keeps its size within one filesystem
timestamp tick.) One entry is kept per path (its latest key). If the
listing fails (a file vanishes during a swap) the read falls back to
plain inference; two threads missing at the same moment both infer,
which is harmless, so no lock is taken.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: absolute path -> (files key, schema inferred from those files)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _hidden(name: str) -> bool:
    """Spark's `shouldFilterOutPathName`: names its file listing skips."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False  # parquet summary files, which inference may read
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _raise(exc: OSError) -> None:
    raise exc


def _files_key(path: str) -> tuple:
    """Sorted (relative name, size, mtime_ns) of the data files behind
    ``path``; raises OSError if any of them cannot be listed or stat'ed."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path, onerror=_raise):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in files:
            if not _hidden(name):
                full = os.path.join(root, name)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without the schema-inference job when the
    files behind ``path`` are the ones its cached schema was inferred from
    (see the module docstring)."""
    try:
        key = _files_key(path)
    except OSError:
        return spark.read.parquet(path)
    apath = os.path.abspath(path)
    hit = _SCHEMAS.get(apath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[apath] = (key, df.schema)
    return df


def _data_files(path: str) -> list[str]:
    """The parquet data files behind ``path``: exactly those `_files_key`
    lists, minus `_metadata`/`_common_metadata` summaries. A listing error
    raises."""
    return [
        os.path.join(path, rel) if rel else path
        for rel, _size, _mtime in _files_key(path)
        if not os.path.basename(rel).startswith(("_metadata", "_common_metadata"))
    ]


def parquet_rows(path: str) -> int:
    """Rows behind ``path`` with no Spark job, for a publish step counting
    what it wrote: the footers' `num_rows` over `_data_files`. A listing or
    footer error (a file vanished) raises, never a partial sum."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def parquet_columns(path: str, columns: list[str], where=None):
    """``columns`` of the table behind ``path`` as a pyarrow Table, read on
    the driver with no Spark job: for small published metadata (a 25-row
    dimension, the rows of a probe-stat ledger that match a query's terms)
    that a request would otherwise pay a Spark job to collect. Reads
    `_data_files`; ``where`` is an optional `pyarrow.dataset` filter
    expression, which footer min/max statistics apply per row group, so a
    term-sorted file is read only where the terms fall. Partition
    (`key=value` directory) columns are not read. A directory with no data
    files, a listing error or an unreadable file raises."""
    import pyarrow.dataset as ds

    files = _data_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    return ds.dataset(files, format="parquet").to_table(columns=columns, filter=where)


def where_in(column: str, values):
    """`parquet_columns` filter keeping rows whose ``column`` is one of
    ``values``, spelled as an OR of equalities: pyarrow (16) applies those
    to row-group min/max statistics, while its `isin` reads every row
    group."""
    import functools
    import operator

    import pyarrow.dataset as ds

    return functools.reduce(operator.or_, (ds.field(column) == v for v in values))


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    # defensive: plans may receive an externally-built SparkSession (the
    # driver contract passes one in). events.parquet has carried either
    # TIMESTAMP(NANOS) (needs nanosAsLong or Spark refuses the file) or
    # naive TIMESTAMP(MICROS) (Spark 4 would infer TIMESTAMP_NTZ, which
    # unix_micros/window reject or treat differently — read it as a UTC
    # instant instead, exactly how DuckDB surfaces the same bytes under a
    # UTC session). Timestamp-formatting plans assume a UTC session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    # `is None` test, NOT truthiness: an explicitly-empty list means "load
    # nothing", not "load all ten tables"
    for n in TABLES if names is None else names:
        df = read_parquet(spark, table_path(sf_dir, n))
        ts_type = dict(df.dtypes).get("ts")
        if n == "events" and ts_type == "bigint":
            # TIMESTAMP(NANOS) read as epoch-nanos long (see session.py);
            # truncate to micros — same precision DuckDB surfaces.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif n == "events" and ts_type == "timestamp_ntz":
            # reader built before the conf landed (cached session state)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        out[n] = df
    return out


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so plans can be written in SQL."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)

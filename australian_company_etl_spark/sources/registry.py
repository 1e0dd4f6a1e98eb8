"""Parquet source registry for the test corpus.

One parquet file per table (TPC-H-ish star schema + events/documents/
embeddings). At 100 TB each "table" would be a partitioned parquet dataset —
`spark.read.parquet(dir)` is identical either way; filters/projections push
down to the scan and partition pruning applies when the layout is
`.../table/dt=.../part-*.parquet`.

Tables are resolved once per directory generation: `read_table` keeps the
DataFrame of each (session, table path) and reuses it until the path's
(device, inode, mtime) changes, so a served request or a plan call lists
no files and runs no schema-inference job for a table it has seen. Every
change this repository makes to a table directory moves that generation:
an append renames files into it, an overwrite recreates it, and index
compaction swaps in a new directory. Reads that check a write stay direct
`spark.read.parquet` calls: they must see the bytes just written, not a
memoized listing.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


#: guards every session's table memo: the HTTP server resolves tables from
#: two or more handler threads at once
_MEMO_LOCK = threading.Lock()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet(table_path(sf_dir, name))``, resolved once per
    directory generation of that path in this session.

    The generation is the path's (st_dev, st_ino, st_mtime_ns), taken
    BEFORE the read: a change landing while Spark lists the files leaves
    the memo under the older generation, so the next call re-reads. This
    relies on the filesystem giving a directory change that follows a stat
    a new mtime (nanosecond or multigrain timestamps, as on local ext4,
    xfs and tmpfs); on a coarse-mtime mount two changes inside one tick
    could hide the second. The memo lives on the session object, so a
    frame never crosses sessions and dies with its session. A path that
    does not exist (or is not a local path) is not memoized and raises the
    same AnalysisException as a direct read."""
    path = table_path(sf_dir, name)
    key = os.path.abspath(path)
    with _MEMO_LOCK:
        try:
            st = os.stat(key)
        except OSError:
            return spark.read.parquet(path)
        gen = (st.st_dev, st.st_ino, st.st_mtime_ns)
        memo = spark.__dict__.setdefault("_table_memo", {})
        hit = memo.get(key)
        if hit is not None and hit[0] == gen:
            return hit[1]
        df = spark.read.parquet(path)
        memo[key] = (gen, df)
        return df


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
        df = read_table(spark, sf_dir, n)
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

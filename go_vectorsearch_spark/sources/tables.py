"""Testdata table loaders (S1/S2 of SURVEY.md §2.1).

The reference streams SQL tables in 1000-row batches
(reference: dnc/dnc.go:93-107, config/constants.go:6); in Spark a
parquet scan is already batched and partitioned, and Catalyst handles
projection pushdown (reference's hand-written ``.Select``,
dnc/dnc.go:97) and predicate pushdown for free - so the "scan
operator" here is just ``spark.read.parquet`` plus schema knowledge.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
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


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers (idempotent).

    The external driver loads ``__spark_entry__`` by file path and fixes
    only the *driver's* sys.path; Python workers deserializing a pandas
    UDF that references this package by module name would fail to import
    it. ``addPyFile`` distributes a zip of the package and prepends it to
    every worker's sys.path — the same mechanism a real cluster submit
    would use (``spark-submit --py-files``).
    """
    sc = spark.sparkContext
    if getattr(sc, "_gvs_pkg_shipped", False):
        return
    import go_vectorsearch_spark

    pkg_dir = os.path.dirname(os.path.abspath(go_vectorsearch_spark.__file__))
    # a directory of this process's own: at one shared path, a second
    # process shipping its copy rewrote the zip under this one, and
    # Spark then failed every task here ("exists and does not match
    # contents"). Spark serves the file from there for the session, so
    # it goes when the process exits
    zdir = tempfile.mkdtemp(prefix="gvs_pkg_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "go_vectorsearch_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._gvs_pkg_shipped = True


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input is under-parallelized.

    Small parquet files arrive as one split (the sf0.1 tables are single
    row groups), which would serialize expression-heavy operators
    (per-token md5, GEMM batches) on one core. At real scale inputs have
    thousands of splits and this is a no-op — the check costs one plan
    inspection, no job.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Columnar parquet scan = batched scan S1.

    The driver's ``events`` parquet has shipped two timestamp layouts:
    TIMESTAMP(NANOS) (read as int64 nanos, truncated to micros — exactly
    DuckDB's micros TIMESTAMP) and TIMESTAMP(MICROS, isAdjustedToUTC=
    false), which Spark 4 infers as TIMESTAMP_NTZ. Normalize both to a
    plain TIMESTAMP column: the session timezone is pinned to UTC
    (session.py), so the NTZ→LTZ cast is value-preserving and every
    downstream epoch/window/lag expression sees the same instants DuckDB
    does. The conf is set at read time because the driver supplies its
    own SparkSession.
    """
    ensure_package_on_workers(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    # The driver owns this session, so only touch the session-wide
    # nanosAsLong conf when the file ACTUALLY stores TIMESTAMP(NANOS)
    # (sniffed from the footer) — setting it unconditionally would
    # silently turn other nanos-timestamp parquet reads into int64
    # columns for the rest of the session. When nanos data IS present
    # the conf must stay set (the lazy scan consults it at execution
    # time as well).
    if _has_nanos_ts(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # the NTZ->LTZ cast interprets the naive wall clock in the
        # SESSION timezone; every event-time oracle treats it as UTC
        # (DuckDB naive-timestamp epoch), so pin the session tz before
        # the cast executes — the driver supplies its own session and
        # may not have set it
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _has_nanos_ts(path: str, col: str = "ts") -> bool:
    """True iff the parquet file/dir stores ``col`` as TIMESTAMP(NANOS)."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        f = parts[0]
    try:
        t = pq.read_schema(f).field(col).type
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return False


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Parquet table catalog for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{SF}/``. Scans are plain parquet reads so Catalyst
gets predicate pushdown + column pruning for free; at cluster scale the
same calls point at partitioned/bucketed parquet layouts and partition
pruning kicks in with zero code change. The inferred schema of each
file is cached (``parquet_schema``), so only a table's first read pays
Spark's footer-reading inference job.
"""

from __future__ import annotations

import os
import stat

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


# Event time is normalized to ONE engine-wide domain at scan time:
# BIGINT microseconds since the epoch. Everything downstream (window
# frames, sessionization, streaming buckets, as-of joins) does exact
# integer arithmetic in that domain — no float rounding, no timezone
# dependence, and bit-identical to the DuckDB oracles' epoch_us(ts).
# The parquet encoding of events.ts has drifted across testdata
# generations (TIMESTAMP(NANOS) → BIGINT ns via nanosAsLong, then plain
# TIMESTAMP µs); dispatching on the loaded dtype here makes every query
# immune to the next drift.
_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def event_time_us(df: DataFrame, col: str = "ts") -> F.Column:
    """Column expression converting ``col`` to BIGINT epoch-µs, keyed on
    the column's loaded dtype. timestampdiff on NTZ operands is
    timezone-independent (verified vs DuckDB epoch_us under a non-UTC
    session timezone)."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.LongType):
        # parquet TIMESTAMP(NANOS) read as BIGINT ns (nanosAsLong).
        # Must be int64 div — epoch-ns exceeds double's 2^53.
        return F.expr(f"{col} div 1000")
    if isinstance(dtype, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(col))
    raise TypeError(f"cannot normalize event time column {col!r} of type {dtype}")


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Replace ``col`` with its BIGINT epoch-µs form (position kept)."""
    return df.withColumn(col, event_time_us(df, col).cast("long"))


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    # Engine type policy (also set at session build in session.get_spark):
    # parquet TIMESTAMP(NANOS) columns — which Spark cannot map to a
    # timestamp type — read as BIGINT nanoseconds instead of erroring.
    # The driver brings its OWN SparkSession, so ensure the policy holds
    # here too — idempotent, session-wide by design.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# Session confs that change what parquet schema inference returns; they
# are part of the schema cache key, so a session that sets them
# differently never sees another session's schema.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE_MAX = 64
_SCHEMAS: dict[tuple, T.StructType] = {}


def _stat_signature(path: str) -> tuple | None:
    """(st_ino, st_size, st_mtime_ns) of ``path``, or of every file under
    it when it is a directory; None when it cannot be stat'ed locally
    (missing, or an ``s3a://``-style URI)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((st.st_ino, st.st_size, st.st_mtime_ns),)
        sig = []
        for root, _, files in os.walk(path):
            for f in files:
                s = os.stat(os.path.join(root, f))
                sig.append((root, f, s.st_ino, s.st_size, s.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:
        return None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers for the parquet at ``path``, cached per
    process.

    Inference starts a Spark job that reads a file footer, on every
    ``spark.read.parquet`` call; handing the schema back to
    ``spark.read.schema`` skips that job, so building a query starts
    none. The key is the path, the stat signature of its files and the
    session's inference confs, so a rewritten file or a session with
    other confs re-infers. A path that cannot be stat'ed locally is
    inferred on every call, exactly as a plain read would, so its
    errors (``PATH_NOT_FOUND``) surface unchanged. The returned schema
    is shared: pass it to a reader, do not mutate it."""
    _ensure_nanos_as_long(spark)
    sig = _stat_signature(path)
    if sig is None:
        return spark.read.parquet(path).schema
    key = (path, sig, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_SCHEMAS) >= _SCHEMA_CACHE_MAX:  # drop the oldest entry
            _SCHEMAS.pop(next(iter(_SCHEMAS), None), None)
        _SCHEMAS[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_time(df)
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf value ('4194304', '128MB', '134217728b')."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _est_scan_splits(df: DataFrame) -> int:
    """Estimate how many input splits the scan below ``df`` produces,
    without touching ``df.rdd`` (which forces a plan→RDD conversion).

    Spark splits parquet by byte ranges of size maxPartitionBytes, but
    a row group cannot be subdivided — a 114 MB single-row-group file
    is ONE split no matter the conf. The honest estimate is therefore
    min(total row groups, ceil(bytes / maxPartitionBytes)) per the
    footers, floored at the file count. Footer reads are bounded (64
    files) and local-path only; any failure (object store, non-parquet)
    falls back to the file count — conservative, i.e. repartitions.
    """
    files = df.inputFiles()
    n = len(files)
    if n == 0 or n > 64:
        return n
    try:
        import pyarrow.parquet as _pq

        maxpb = _parse_bytes(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
        )
        total_rg = 0
        total_bytes = 0
        for f in files:
            p = f.removeprefix("file:")
            total_rg += _pq.read_metadata(p).num_row_groups
            total_bytes += os.path.getsize(p)
        return max(n, min(total_rg, -(-total_bytes // maxpb)))
    except Exception:
        return n


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism before
    CPU-heavy per-row work (shingling, minhashing, tokenization).

    A small parquet file arrives as ONE input split (a row group cannot
    be subdivided), which serializes everything downstream on a single
    core no matter how wide the cluster is. The round-robin shuffle here
    is proportional to the raw input bytes — trivially cheap next to the
    per-row work it parallelizes. No-op when the scan already fans out
    to a healthy fraction of the target (≥ 1/4: a full extra shuffle to
    close the last 2-4× of scan parallelism costs more than it buys on
    every workload measured; closing a 10-30× gap is what pays). At
    100 TB inputs arrive thousands of splits wide and this is a
    guaranteed no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _est_scan_splits(df) >= max(1, target // 4):
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = False
) -> dict[str, DataFrame]:
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out

"""Parquet table sources for the engine's test/bench corpus.

Thin, declarative readers: `spark.read.parquet` so Catalyst owns pushdown,
column pruning and partition discovery. The one piece of real logic is
timestamp normalization — the driver-generated ``events`` table stores
nanosecond INT64 timestamps, which Spark's parquet reader rejects by
default; we flip the legacy nanos-as-long conf and rebuild a microsecond
timestamp column (lossless at the granularities the engine uses).
"""

from __future__ import annotations

import os
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

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

__all__ = [
    "TABLE_NAMES",
    "configure",
    "ensure_splittable_layout",
    "load_table",
    "load_all",
    "read_source",
    "write_sink",
    "write_bucketed_table",
    "normalize_event_ts",
    "compact_parquet",
    "enable_runtime_filters",
]


def configure(spark: SparkSession) -> SparkSession:
    """Session conf for deterministic, scale-ready execution.

    All runtime-settable; safe to call on a driver-provided session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


#: re-layout cache: {(abspath, mtime_ns, size)} -> usable path
_LAYOUT_CACHE: Dict[tuple, str] = {}


def ensure_splittable_layout(
    spark: SparkSession,
    path: str,
    min_rows: int = 2_000,
) -> str:
    """Return a path whose parquet SCANS CAN PARALLELIZE, rewriting the
    file once (cached) if its row groups are too fat.

    Why this belongs in the source layer: Spark splits a parquet scan at
    ROW-GROUP boundaries — a file written as one giant row group (the
    shape small test generators produce) is one task no matter what
    ``maxPartitionBytes`` says, so every narrow transformation before
    the first exchange (shingling, signatures, per-row scoring) runs on
    ONE core. A production ingest never yields this layout (100 TB
    arrives as many files × many row groups); this shim re-creates the
    production shape locally with a one-time pyarrow rewrite into
    roughly ``2 × defaultParallelism`` row groups (clamped to
    [256, 16384] rows per group) — after which every query scans in
    parallel natively, with pushdown/pruning intact and ZERO added
    exchanges (min/max stats get FINER, so predicate pushdown prunes
    better). Files already split finely enough, small tables,
    partitioned directories, and any I/O error fall through to the
    original path.

    The rewrite is cached per (path, mtime, size) under the directory in
    ``$SPARK_GRAFT_CACHE_DIR`` (default: a ``spark_graft_layout`` dir in
    the system temp), so repeated sessions pay it once.
    """
    try:
        st = os.stat(path)
    except OSError:
        return path
    if not os.path.isfile(path):
        return path  # partitioned/dir layout: already many files
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    hit = _LAYOUT_CACHE.get(key)
    if hit is not None:
        return hit
    out = path
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        meta = pf.metadata
        rows = meta.num_rows
        try:
            par = int(spark.sparkContext.defaultParallelism)
        except Exception:
            par = 8
        target = min(16_384, max(256, rows // max(2 * par, 1)))
        if (
            rows >= min_rows
            and rows / max(meta.num_row_groups, 1) > 2 * target
        ):
            import hashlib
            import tempfile

            cache_root = os.environ.get(
                "SPARK_GRAFT_CACHE_DIR",
                os.path.join(
                    tempfile.gettempdir(), "spark_graft_layout"
                ),
            )
            os.makedirs(cache_root, exist_ok=True)
            # target is part of the identity: a 4-core test session and
            # a 32-core bench session want different layouts
            tag = hashlib.md5(
                repr((key, target)).encode()
            ).hexdigest()[:16]
            dest = os.path.join(
                cache_root,
                f"{tag}-{os.path.basename(path)}",
            )
            if not os.path.exists(dest):
                tmp = dest + ".tmp"
                pq.write_table(pf.read(), tmp, row_group_size=target)
                os.replace(tmp, dest)  # atomic: concurrent sessions safe
            out = dest
    except Exception:
        out = path  # layout is an optimization, never a failure mode
    _LAYOUT_CACHE[key] = out
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table; normalizes ``events.ts`` to a timestamp."""
    configure(spark)
    df = spark.read.parquet(
        ensure_splittable_layout(
            spark, os.path.join(sf_dir, f"{name}.parquet")
        )
    )
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # integer div, NOT `/`: float division of int64 nanos loses the
        # low bits (~2^60 ns exceeds double's 53-bit mantissa) and lands
        # a microsecond off for ~25% of rows.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif name == "events" and ts_type == "timestamp_ntz":
        # tz-aware TIMESTAMP is required by unix_micros/watermarks; with
        # the UTC session zone (configure() above) the cast is a pure
        # type change — identical wall-clock and epoch on both engines.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def read_source(
    spark: SparkSession, path: str, format: str = "parquet", **options
) -> DataFrame:
    """Generic source: parquet/csv/json/orc. CSV defaults to header +
    schema inference off (pass an explicit ``schema=`` option at scale —
    inference is a full extra pass)."""
    configure(spark)
    reader = spark.read.format(format)
    if format == "csv" and "header" not in options:
        options["header"] = "true"
    schema = options.pop("schema", None)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def write_sink(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by=None,
    **options,
) -> None:
    """Generic sink. ``partition_by`` lays data out for downstream
    partition pruning — for panel data, partition by the period column so
    fold predicates skip whole directories."""
    if format == "csv" and "header" not in options:
        options["header"] = "true"
    writer = df.write.format(format).mode(mode).options(**options)
    if partition_by:
        cols = (
            [partition_by]
            if isinstance(partition_by, str)
            else list(partition_by)
        )
        writer = writer.partitionBy(*cols)
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int,
    sort_cols=None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: pre-shuffles data into ``n_buckets`` hash
    buckets on ``bucket_cols`` at WRITE time, so every later equi-join or
    aggregation on those keys is exchange-free — the join that would
    shuffle 100 TB per query instead shuffles it once, at layout time.
    Optional ``sort_cols`` pre-sorts within buckets, turning sort-merge
    joins into zero-sort merges.

    Spark-native bucketing (no Hive needed); read back with
    ``spark.table(table)``. Size ``n_buckets`` so one bucket of the
    BUILD side fits an executor core (~100-500 MB compressed)."""
    bcols = [bucket_cols] if isinstance(bucket_cols, str) else list(
        bucket_cols
    )
    if mode == "overwrite":
        # Without a persistent metastore the catalog is per-session, but
        # managed-table LOCATIONS persist on disk; a stale directory from
        # an earlier session makes saveAsTable refuse even in overwrite
        # mode. Drop the catalog entry and clear the orphaned location.
        import shutil

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        loc = os.path.join(warehouse, table.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    writer = (
        df.write.format(format)
        .mode(mode)
        .bucketBy(n_buckets, *bcols)
    )
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(
            sort_cols
        )
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to tz-aware TIMESTAMP, whatever
    the parquet generation wrote (int64 nanos, TIMESTAMP_NTZ, TIMESTAMP).
    Works on batch and streaming frames alike; with the UTC session zone
    the NTZ cast is a pure type change."""
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if t == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
    sort_within_by=None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ~``target_file_mb``-sized files → returns the output file count.

    Every long-running ingest (especially streaming sinks, which commit
    one file per micro-batch per partition) degrades into thousands of
    tiny files; at 100 TB the resulting scan-planning and open() overhead
    dominates query time. Compaction is the maintenance op that restores
    scan efficiency.

    Sizing reads the source's total byte size from the file index (no
    data pass), then ``repartition(n)`` for even output. Optional
    ``sort_within_by`` clusters rows within each output file so parquet
    row-group min/max statistics prune at read time (poor man's
    Z-order on one key prefix).

    ``dst_path`` must differ from ``src_path``: the write is
    ``mode("overwrite")`` over a LAZY read of the source, so compacting
    in place would truncate the input mid-read. Sizing walks the local
    filesystem — for object stores, list via the store's API and pass
    an explicit partition count instead.
    """
    import math

    if os.path.abspath(dst_path) == os.path.abspath(src_path):
        raise ValueError(
            "compact_parquet: dst_path must differ from src_path — "
            "overwrite of a lazily-read source would destroy the data; "
            "write to a sibling directory and swap atomically."
        )
    df = spark.read.parquet(src_path)
    total = 0
    for root, _dirs, files in os.walk(src_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    out = df.repartition(n)
    if sort_within_by:
        cols = (
            [sort_within_by]
            if isinstance(sort_within_by, str)
            else list(sort_within_by)
        )
        out = out.sortWithinPartitions(*cols)
    out.write.mode("overwrite").parquet(dst_path)
    return sum(
        1
        for f in os.listdir(dst_path)
        if f.endswith(".parquet")
    )


def enable_runtime_filters(
    spark: SparkSession, aggressive: bool = False
) -> SparkSession:
    """Turn on Spark's runtime bloom-filter join pruning (the
    InjectRuntimeFilter rule): for a selective dim⋈fact shuffle join,
    the dim side's join keys are aggregated into a bloom filter that is
    pushed into the fact scan as a ``might_contain`` filter — rows that
    cannot match never leave the scan, which at 100 TB is the
    difference between shuffling the whole fact table and shuffling the
    matching fraction.

    ``aggressive=True`` zeroes the application-side size threshold so
    the rule also fires on MB-scale local data (the default 10 GB
    threshold is correct for production and means this helper is a
    no-op there until tables are actually large).
    """
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
    )
    if aggressive:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
    return spark

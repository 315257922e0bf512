"""Sinks: partitioned / bucketed parquet layout (the 100 TB story).

The reference's only sink is matplotlib PNGs of tiny aggregates
(``/root/reference/utils/visualization.py:51,88,124,160``); an engine
run at scale needs data sinks whose LAYOUT encodes the access pattern:

- **partitioned writes** (`partitionBy`): one directory per partition
  value — queries filtering on the partition column read only matching
  directories (partition pruning: the scan's ``PartitionFilters``,
  asserted in tests/test_sinks.py). Choose low-cardinality, always-
  filtered columns (date, region); high-cardinality partition keys
  create millions of tiny files.
- **bucketed writes** (`bucketBy`): rows hash-distributed into a fixed
  bucket count per partition. Two tables bucketed on the same key with
  the same count join WITHOUT a shuffle (both sides already hash-
  partitioned) — the standard trick for a fact table repeatedly joined
  on one key. Requires ``saveAsTable`` (bucket metadata lives in the
  catalog).
- **repartition before write**: the file count per partition dir ==
  upstream task count; ``repartition(n, cols)`` right-sizes files
  (~128-1024 MB each at scale) and clusters rows for min/max row-group
  skipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by ``partition_cols``.

    The pre-write ``repartition(n, cols)`` clusters each partition
    value's rows into ``files_per_partition`` tasks — without it every
    upstream task writes a file into every partition dir (task_count ×
    partition_count small files, the classic small-files failure)."""
    (
        df.repartition(
            max(files_per_partition, 1) * _distinct_bound(df, partition_cols),
            *partition_cols,
        )
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def _distinct_bound(df: DataFrame, cols: list[str], cap: int = 1024) -> int:
    """Distinct partition-value count, capped (layout sizing only)."""
    n = df.select(*cols).distinct().limit(cap + 1).count()
    return min(max(n, 1), cap)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed catalog table: joins/aggregations on
    ``bucket_col`` between same-bucketed tables skip the shuffle
    entirely (asserted in tests/test_sinks.py)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite — the incremental-backfill pattern:
    rewrite ONLY the partition directories present in ``df`` (e.g.
    today's date partition), leaving every other partition untouched.
    Static overwrite mode (the default) would delete the whole root;
    at a 100 TB table that difference is the whole job."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # existing readers cache the file listing; drop it so they see the
    # replaced files instead of FAILED_READ_FILE on the deleted ones
    spark.catalog.refreshByPath(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout; partition columns come back as
    directory-derived columns and filters on them prune directories
    before any file I/O."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# content-keyed stable bucketed tables (persistent index shape)
# ---------------------------------------------------------------------------
#
# No atexit cleanup (ADVICE r4): the content-keyed naming already bounds
# accumulation to ONE directory per logical input (the pre-write
# drop+rmtree overwrites it in place), and an exit-time rmtree would
# both defeat cross-process reuse and race a concurrent process still
# reading the directory. io/fixtures.fixture_tables supplies the
# content-keyed name.


def _drop_stable(spark: SparkSession, name: str) -> None:
    """Drop the named table AND its warehouse directory: a fresh
    session's in-memory catalog does not know a table even when its
    location exists on disk, so saveAsTable would refuse the path."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(wh.removeprefix("file:"), name.lower()), ignore_errors=True)


def stable_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Write ``df`` as the bucketed catalog table ``name``, a
    CONTENT-KEYED stable name (io/fixtures.fixture_tables): the same
    logical input always maps to the same warehouse location, so repeated
    bench/test/audit processes overwrite ONE directory instead of
    accumulating pid-unique copies."""
    _drop_stable(spark, name)
    write_bucketed(df, name, bucket_col, n_buckets=n_buckets, sort_col=sort_col)


def stable_partitioned_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_cols: list[str],
) -> None:
    """Partitioned sibling of :func:`stable_bucketed_table`: a
    content-keyed catalog table partitioned by ``partition_cols`` —
    the layout whose directory structure IS the index (queries
    filtering/joining on the partition column read only matching
    directories, statically or via dynamic partition pruning).
    Same content-keyed overwrite contract."""
    _drop_stable(spark, name)
    df.write.mode("overwrite").partitionBy(*partition_cols).format(
        "parquet"
    ).saveAsTable(name)

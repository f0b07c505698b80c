"""Sinks (S3, S4, S6 batch half, S8 retention).

The processed-tier contract comes from the reference's Firehose delivery
stream (py:194-212): parquet conversion (ParquetSerDe py:204-211), GZIP
(py:203), Hive partitions year=/month=/day=/hour= (py:197), failures to an
errors/ prefix (py:198). The archive tier is the transformation stage's
second output (py:105-110, py:268).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from serverless_data_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig


def with_partition_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the Firehose prefix expression's partition columns (py:197):
    year=!{timestamp:yyyy}/month=!{MM}/day=!{dd}/hour=!{HH}."""
    ts = F.col(ts_col)
    return (df.withColumn("year", F.year(ts))
              .withColumn("month", F.month(ts))
              .withColumn("day", F.dayofmonth(ts))
              .withColumn("hour", F.hour(ts)))


def write_partitioned_parquet(df: DataFrame, path: str, ts_col: str = "ts",
                              mode: str = "append",
                              config: EngineConfig = DEFAULT_CONFIG) -> None:
    """S3 — processed-tier sink. Partition layout enables partition
    pruning on every downstream time-filtered scan; maxRecordsPerFile
    bounds file size at scale (the Spark-side analogue of the 5 MB Firehose
    buffer, py:201)."""
    out = df if set(config.partition_columns) <= set(df.columns) \
        else with_partition_columns(df, ts_col)
    (out.write.mode(mode)
        .option("compression", config.sink_compression)
        .option("maxRecordsPerFile", config.max_records_per_file)
        .partitionBy(*config.partition_columns)
        .parquet(path))


def write_archive(df: DataFrame, path: str, mode: str = "append") -> None:
    """S4 — archive-tier sink (py:105-110; env ARCHIVE_BUCKET py:268).
    Raw retention copy: snappy (cheap to write, rarely read)."""
    df.write.mode(mode).option("compression", "snappy").parquet(path)


def write_quarantine(df: DataFrame, path: str, reason: str,
                     mode: str = "append") -> None:
    """errors/-prefix quarantine (py:198) + DLQ semantics (py:122-137):
    invalid/poison rows are preserved with a reason and timestamp, never
    dropped silently."""
    (df.withColumn("_error_reason", F.lit(reason))
       .withColumn("_quarantined_at", F.current_timestamp())
       .write.mode(mode).json(path))


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                    n_files: int = 32, mode: str = "overwrite",
                    bloom_filter_cols: list[str] | None = None,
                    config: EngineConfig = DEFAULT_CONFIG) -> None:
    """Range-clustered layout: each output file covers a (near-)disjoint
    range of the cluster key, so parquet min/max footer stats prune whole
    files for range predicates — data skipping without an index, the lake
    analogue of clustering/Z-order on a single key. Partition layout
    (year=/day=) prunes on TIME; this prunes on VALUE columns inside each
    partition. One range shuffle at write time (sampling pass picks the
    range bounds), then files stay sorted forever.

    ``repartitionByRange`` assigns disjoint key ranges per output
    partition; ``sortWithinPartitions`` additionally sorts rows inside the
    file so row-group (not just file) stats are tight.

    ``bloom_filter_cols`` writes a parquet bloom filter per listed column
    — point-lookup skipping for high-cardinality columns where min/max
    stats are useless (a needle id is inside almost every file's range,
    but bloom filters rule out row groups that definitely lack it). For
    multi-dimensional RANGE skipping, cluster on a Z-order key instead
    (functions/layout.py:zorder_key)."""
    cols = [F.col(c) for c in cluster_cols]
    w = (df.repartitionByRange(n_files, *cols)
         .sortWithinPartitions(*cols)
         .write.mode(mode)
         .option("compression", config.sink_compression)
         .option("maxRecordsPerFile", config.max_records_per_file))
    for c in bloom_filter_cols or []:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.parquet(path)


def swap_into_place(spark, tmp_path: str, target_path: str) -> None:
    """Replace ``target_path`` with ``tmp_path`` via the Hadoop FileSystem
    API — path-scheme-agnostic (local, HDFS, object stores), unlike
    shutil. NOT atomic on object stores (rename = copy+delete there);
    callers own the SINGLE-WRITER discipline: no concurrent writer may
    touch the target during the swap window.

    Both filesystem calls report failure by returning false, not by
    raising; either one failing raises here, naming ``tmp_path``, which
    still holds the complete new table."""
    from serverless_data_pipeline_spark.operators.util import hadoop_fs
    fs, jpath = hadoop_fs(spark, target_path)
    _, jtmp = hadoop_fs(spark, tmp_path)
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise RuntimeError(f"swap into {target_path} failed: could not "
                           f"delete the old table; the new data is in "
                           f"{tmp_path}")
    if not fs.rename(jtmp, jpath):
        raise RuntimeError(f"swap into {target_path} failed: rename "
                           f"returned false; the new data is in "
                           f"{tmp_path}")


def compact_table(spark, path: str, target_partitions: int = 32) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_partitions`` files. Streaming sinks and per-batch appends
    accumulate tiny files whose listing + open cost eventually dominates
    scan time (the classic lake small-files problem; the reference's
    Firehose buffers exist for exactly this reason, py:199-202). Run
    periodically from the same scheduler slot as
    delete_expired_partitions.
    Returns the row count preserved. Coalesce, not repartition: a
    file-count reduction needs no shuffle."""
    snapshot = spark.read.parquet(path).cache()
    n = snapshot.count()
    tmp = path.rstrip("/") + "__compact"
    snapshot.coalesce(target_partitions).write.mode("overwrite").parquet(tmp)
    snapshot.unpersist()
    swap_into_place(spark, tmp, path)
    return n


def merge_upsert(spark, target_path: str, updates: DataFrame,
                 keys: list[str]) -> int:
    """MERGE/upsert on a plain-parquet target: rows in ``updates`` replace
    target rows with the same key; new keys are inserted (update-else-
    insert, the DynamoDB put_item contract of the reference's state table,
    py:325-339, generalized to data). Plan: one left-anti join (target
    rows NOT being updated) + union — no row-at-a-time logic, and with
    ``updates`` small it is a broadcast anti-join against a single target
    scan.

    Parquet can't be overwritten while a lazy plan still reads it, so the
    merged result is materialized to a sibling temp dir and swapped in via
    the Hadoop FileSystem API (path-scheme-agnostic; same SINGLE-WRITER
    discipline as StateTable.compact). At real lake scale prefer a
    table format (Delta/Iceberg) whose MERGE rewrites only matching files;
    this is the format-free equivalent with whole-table rewrite cost.
    Returns the merged row count, counted by an ``Observation`` on the
    write (so the swapped-in table is not read back).

    A missing target counts as an empty table, and the merge writes
    ``updates`` -- unless ``<target>__merge`` is there: a failed swap
    leaves the whole table only in that dir (``swap_into_place``), so
    then this raises, naming it, rather than overwrite it with
    ``updates`` alone."""
    from serverless_data_pipeline_spark.operators.util import hadoop_fs
    fs, jpath = hadoop_fs(spark, target_path)
    tmp = target_path.rstrip("/") + "__merge"
    if fs.exists(jpath):
        merged = (spark.read.parquet(target_path)
                  .join(F.broadcast(updates.select(*keys)), keys, "left_anti")
                  .unionByName(updates))
    elif fs.exists(hadoop_fs(spark, tmp)[1]):
        raise RuntimeError(f"no table at {target_path}, but {tmp} is left "
                           f"from a failed swap and may hold it; move it "
                           f"into place before merging")
    else:
        merged = updates
    written = Observation()
    merged.observe(written, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite").parquet(tmp)
    swap_into_place(spark, tmp, target_path)
    return written.get["n"]


def delete_expired_partitions(spark, path: str, cutoff_date: str) -> int:
    """S8 retention — DELETE day-grain partitions strictly older
    than ``cutoff_date`` ('yyyy-mm-dd'): the expiry action of the
    reference's lifecycle rules (py:77-92), applied at the partition
    directory level so it is a metadata listing + directory deletes —
    no data files are read and no rows are rewritten.

    The cutoff is an EXPLICIT date, not current_date arithmetic:
    retention jobs replay deterministically (re-running yesterday's tick
    deletes yesterday's set, not a shifted one) and tests/oracles can
    state the surviving partition set exactly; callers wanting the
    rolling policy pass `today - max_age_days`. The partition list is a
    driver-side collect by design — it is directory metadata (one row
    per day partition), the same inherently-small class as the control
    plane's run listing. Deletes go through the Hadoop FileSystem API
    (path-scheme-agnostic, same as swap_into_place). Returns the number
    of day partitions VERIFIABLY deleted (``fs.delete`` returned true);
    a failed delete — or an on-disk partition directory whose name
    differs from the reconstructed ``year=/month=/day=`` path, so the
    expired data silently survives — raises instead of being counted
    (r6 ADVICE: a retention job must never report data gone that is
    still on disk)."""
    df = spark.read.parquet(path)
    old = (df.select("year", "month", "day").distinct()
           .filter(F.make_date("year", "month", "day")
                   < F.lit(cutoff_date).cast("date"))
           .collect())
    from serverless_data_pipeline_spark.operators.util import hadoop_fs
    deleted, failed = 0, []
    for r in old:
        part = (f"{path.rstrip('/')}/year={r['year']}"
                f"/month={r['month']}/day={r['day']}")
        fs, jpath = hadoop_fs(spark, part)
        if fs.delete(jpath, True):
            deleted += 1
        else:
            failed.append(part)
    if failed:
        raise RuntimeError(
            f"retention delete failed for {len(failed)} partition(s) "
            f"(missing or undeletable at the reconstructed path — the "
            f"expired data may still be on disk): {failed}")
    return deleted

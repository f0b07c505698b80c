"""S3/S4/S8 sinks + T4 chunked transform + ST2 partitioned stream sink."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from serverless_data_pipeline_spark.config import EngineConfig
from serverless_data_pipeline_spark.operators.stages import chunked_transform
from serverless_data_pipeline_spark.sources.readers import read_stream_files
from serverless_data_pipeline_spark.sources.writers import (
    compact_table, merge_upsert, write_clustered, write_partitioned_parquet,
)
from serverless_data_pipeline_spark.streaming.sinks import (
    start_partitioned_stream,
)

TS_OLD = dt.datetime(2023, 1, 10, 3, 0, 0)
TS_NEW = dt.datetime(2026, 8, 1, 12, 0, 0)


def _frame(spark):
    return spark.createDataFrame(
        [(1, TS_OLD, 1.0), (2, TS_NEW, 2.0)], "id long, ts timestamp, v double")


def test_partitioned_sink_layout_and_compression(spark, tmp_path):
    path = str(tmp_path / "out")
    write_partitioned_parquet(_frame(spark), path)
    assert os.path.isdir(os.path.join(path, "year=2023", "month=1",
                                      "day=10", "hour=3"))
    files = [f for root, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    assert files and all(".gz." in f for f in files)  # gzip parity (py:203)
    back = spark.read.parquet(path)
    assert back.count() == 2
    # partition pruning: a year filter must prune to one partition dir
    pruned = back.filter("year = 2023")
    assert pruned.count() == 1


def test_chunked_transform_tags_and_applies(spark):
    df = spark.createDataFrame([(i,) for i in range(12)], "id long")
    out = chunked_transform(df, lambda d: d.withColumn("twice", F.col("id") * 2),
                            n_chunks=3)
    rows = out.collect()
    assert all(0 <= r.chunk_id < 3 for r in rows)
    assert all(r.twice == r.id * 2 for r in rows)


def test_clustered_write_files_cover_disjoint_ranges(spark, tmp_path):
    """write_clustered's data-skipping contract: per-file [min, max] of the
    cluster key must be pairwise disjoint, so a range predicate prunes
    whole files from the parquet footer stats."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10000).withColumn(
        "v", F.pmod(F.col("id") * 37, F.lit(10000)).cast("double"))
    write_clustered(df, path, ["v"], n_files=8)
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)
            assert col.path_in_schema == "v"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 4  # range partitioner actually fanned out
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo  # no overlap between consecutive files
    total = spark.read.parquet(path).count()
    assert total == 10000


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id long, name string, v double").write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 20.0), (4, "d", 4.0)], "id long, name string, v double")
    n = merge_upsert(spark, path, updates, ["id"])
    assert n == 4
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 20.0),
                   3: ("c", 3.0), 4: ("d", 4.0)}


def test_merge_upsert_idempotent_replay(spark, tmp_path):
    """Replaying the same update batch (the reference's SQS redrive,
    py:133-137) must not duplicate rows."""
    path = str(tmp_path / "target")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.parquet(path)
    updates = spark.createDataFrame([(1, 9.0), (2, 2.0)], "id long, v double")
    merge_upsert(spark, path, updates, ["id"])
    n = merge_upsert(spark, path, updates, ["id"])
    assert n == 2
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 9.0, 2: 2.0}


def test_merge_upsert_into_missing_target_writes_the_updates(spark,
                                                            tmp_path):
    """A missing target counts as an empty table: the first merge writes
    the updates (an empty batch writes an empty table), and replaying
    them changes nothing."""
    path = str(tmp_path / "target")
    updates = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    assert merge_upsert(spark, path, updates, ["id"]) == 2
    assert merge_upsert(spark, path, updates, ["id"]) == 2
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 1.0, 2: 2.0}
    empty = str(tmp_path / "empty")
    assert merge_upsert(spark, empty, updates.limit(0), ["id"]) == 0
    assert spark.read.parquet(empty).count() == 0


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    path = str(tmp_path / "many")
    spark.range(0, 1000).repartition(25).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 25
    n = compact_table(spark, path, target_partitions=2)
    assert n == 1000
    assert len(glob.glob(os.path.join(path, "*.parquet"))) <= 2
    assert spark.read.parquet(path).count() == 1000


def test_swap_raises_and_keeps_temp_when_rename_fails(spark, tmp_path,
                                                     monkeypatch):
    """A rename that returns false (the Hadoop FileSystem reports
    failure by result, not by exception) must fail the commit and leave
    the fully written temp dir in place, named in the error — never a
    row count for a table that is gone. A merge into the missing target
    then raises too, and leaves the leftover whole."""
    import pytest

    from serverless_data_pipeline_spark.operators import util
    real = util.hadoop_fs

    class NoRenameFS:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            return False

    def patched(s, path):
        fs, jp = real(s, path)
        return NoRenameFS(fs), jp

    def rows(p):
        return sorted(r.id for r in spark.read.parquet(p).collect())

    path = str(tmp_path / "many")
    spark.range(0, 50).repartition(5).write.parquet(path)
    monkeypatch.setattr(util, "hadoop_fs", patched)
    with pytest.raises(RuntimeError, match="many__compact"):
        compact_table(spark, path, target_partitions=1)
    monkeypatch.undo()
    assert rows(path + "__compact") == list(range(50))

    target = str(tmp_path / "target")
    spark.createDataFrame([(1, 1.0)], "id long, v double") \
        .write.parquet(target)
    updates = spark.createDataFrame([(2, 2.0)], "id long, v double")
    monkeypatch.setattr(util, "hadoop_fs", patched)
    with pytest.raises(RuntimeError, match="target__merge"):
        merge_upsert(spark, target, updates, ["id"])
    monkeypatch.undo()
    assert rows(target + "__merge") == [1, 2]
    # The target is gone and the leftover holds the whole table: the
    # next merge must not take the target for new and overwrite it.
    with pytest.raises(RuntimeError, match="target__merge"):
        merge_upsert(spark, target, updates, ["id"])
    assert rows(target + "__merge") == [1, 2]


def test_partitioned_stream_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    _frame(spark).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream_files(spark, src, schema)
    q = start_partitioned_stream(
        stream, path=str(tmp_path / "sink"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        config=EngineConfig(sink_compression="snappy"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sink"))
    assert out.count() == 2
    assert {"year", "month", "day", "hour"} <= set(out.columns)
    assert os.path.isdir(os.path.join(str(tmp_path / "sink"), "year=2026"))


def test_delete_expired_partitions_removes_only_old_days(spark, tmp_path):
    from serverless_data_pipeline_spark.sources.writers import (
        delete_expired_partitions,
    )

    rows = [(i, dt.datetime(2024, 1, d, 6, 0, 0), float(i))
            for i, d in enumerate((10, 15, 16, 20))]
    path = str(tmp_path / "ret")
    write_partitioned_parquet(
        spark.createDataFrame(rows, "id long, ts timestamp, v double"), path)
    n = delete_expired_partitions(spark, path, "2024-01-16")
    assert n == 2  # days 10 and 15 strictly before the cutoff
    back = spark.read.parquet(path)
    assert sorted(r.day for r in back.select("day").collect()) == [16, 20]
    # surviving rows are intact, not just surviving directories
    assert sorted(r.id for r in back.select("id").collect()) == [2, 3]
    # idempotent: nothing left to expire
    assert delete_expired_partitions(spark, path, "2024-01-16") == 0

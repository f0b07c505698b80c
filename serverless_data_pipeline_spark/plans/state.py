"""Pipeline state table.

Replaces the reference's DynamoDB `data-pipeline-state` table (py:325-339):
partition key pipeline_id (string), sort key timestamp (string), plus the
status/stage payload the api + error-handler functions write (py:465-468,
py:489). Implemented as an append-only parquet table — an audit trail, not
a KV store: every stage transition is one row and the "current" state is
the latest row per pipeline_id (read via keep-latest window). A batch run
commits all of its rows in one append when it ends (plans.pipeline); the
control plane appends one row per call."""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType([
    T.StructField("pipeline_id", T.StringType(), False),
    T.StructField("timestamp", T.StringType(), False),  # sort key, ISO8601
    T.StructField("stage", T.StringType()),
    T.StructField("status", T.StringType()),   # RUNNING|SUCCEEDED|FAILED
    T.StructField("detail", T.StringType()),   # JSON payload
])


def new_pipeline_id() -> str:
    return f"pipeline-{uuid.uuid4()}"


def _utcnow() -> _dt.datetime:
    """The one clock state rows are stamped from."""
    return _dt.datetime.now(_dt.timezone.utc)


def state_row(pipeline_id: str, stage: str, status: str,
              detail: dict | None = None,
              after: tuple | None = None) -> tuple:
    """One STATE_SCHEMA row stamped now. `after` is the row this one
    follows in the same trail: the stamp is bumped 1 µs past it when the
    clock has not moved on, so `current()` (latest timestamp wins) never
    sees a tie inside a run. Stamps are fixed-width ISO strings, so their
    string order is their time order."""
    now = _utcnow()
    if after is not None:
        now = max(now, _dt.datetime.fromisoformat(after[1])
                  + _dt.timedelta(microseconds=1))
    return (pipeline_id, now.isoformat(timespec="microseconds"),
            stage, status, json.dumps(detail or {}))


def _literal_rows(spark: SparkSession, rows: Sequence[tuple]) -> DataFrame:
    """STATE_SCHEMA `rows` as a one-partition literal relation built in
    the JVM (`inline` over an array of struct literals). Unlike
    `createDataFrame` on a Python list, its write job starts no Python
    worker. The cast gives the columns STATE_SCHEMA's names and
    nullability, so the file schema matches the table's."""
    array = F.array(*[F.struct(*map(F.lit, row)) for row in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(array.cast(T.ArrayType(STATE_SCHEMA, False))))


class StateTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def append(self, pipeline_id: str, stage: str, status: str,
               detail: dict | None = None, *,
               earlier: Sequence[tuple] = ()) -> None:
        """Commit one row stamped now, as one parquet file. `earlier`
        holds `state_row`s stamped before it (a run's buffered trail);
        they land in the same file, ahead of this row."""
        rows = list(earlier)
        rows.append(state_row(pipeline_id, stage, status, detail,
                              after=rows[-1] if rows else None))
        _literal_rows(self.spark, rows).write.mode("append").parquet(
            self.path)

    def history(self, pipeline_id: str | None = None) -> DataFrame:
        df = self.spark.read.schema(STATE_SCHEMA).parquet(self.path)
        return df.filter(F.col("pipeline_id") == pipeline_id) if pipeline_id else df

    def compact(self) -> int:
        """Rewrite the append-only audit trail as one file per shuffle
        partition. Each append() commits one small parquet file — one per
        batch run (its whole trail, written when the run ends) and one per
        control-plane call — correct as an audit trail, but a long-lived
        pipeline accumulates small files (listing cost grows linearly).
        Run periodically; returns the row count preserved.

        The swap goes through sources.writers.swap_into_place (Hadoop
        FileSystem API — path-scheme-agnostic). SINGLE-WRITER constraint:
        an append() racing the swap window can be lost — compaction
        assumes the same exclusive-writer discipline as the pipeline
        scheduler that owns this state table."""
        from serverless_data_pipeline_spark.sources.writers import (
            compact_table,
        )

        return compact_table(self.spark, self.path, target_partitions=1)

    def current(self) -> DataFrame:
        """Latest status per pipeline (keep-latest window, X1 pattern)."""
        w = Window.partitionBy("pipeline_id").orderBy(F.col("timestamp").desc())
        return (self.history().withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1").drop("__rn"))

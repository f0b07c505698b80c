"""Readers (S1, S5, S7; the S2 parquet scan is ``schemas.load_table``).

The reference's ingest surfaces: S3 object-created events on `incoming/`
(py:634-638), SQS work batches of 10 (py:641-646), Kinesis micro-batches of
100 from LATEST (py:649-655). On Spark all three collapse to two shapes:
a batch read of landed files and a file-source streaming read (the public
analogue of a managed stream; swap `.format("kafka")` on a real cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Kept when malformed JSON is parsed permissively; rows where it is non-null
# route to the quarantine sink (errors/ prefix semantics, py:198).
CORRUPT_COL = "_corrupt_record"


def read_json_raw(spark: SparkSession, path: str,
                  schema: T.StructType | None = None) -> DataFrame:
    """S1 — raw JSON scan of the landing prefix (incoming/, py:637).
    PERMISSIVE mode keeps malformed lines in _corrupt_record instead of
    failing the job — at 100 TB a single bad line must never kill a batch.
    With an explicit schema this is a single-pass, non-inferring read."""
    reader = spark.read.option("mode", "PERMISSIVE") \
                       .option("columnNameOfCorruptRecord", CORRUPT_COL)
    if schema is not None:
        schema = T.StructType(
            [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())])
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_raw(spark: SparkSession, path: str,
                 schema: T.StructType | None = None,
                 header: bool = True, sep: str = ",") -> DataFrame:
    """S1 (CSV flavour) — the Athena/Glue surface catalogs CSV alongside
    JSON (crawler, py:602-616; the API accepts a `data_type` field,
    md:174, not a fixed format). Same PERMISSIVE + _corrupt_record
    contract as read_json_raw, so the quarantine split (split_corrupt)
    works identically. With an explicit schema the read is single-pass;
    without one Spark runs an extra inference pass over the files — never
    acceptable at scale, so production call sites pass the registry
    schema."""
    reader = (spark.read.option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", CORRUPT_COL)
              .option("header", str(header).lower())
              .option("sep", sep))
    if schema is not None:
        schema = T.StructType(
            [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())])
        reader = reader.schema(schema)
    return reader.csv(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a permissively-read frame into (good, corrupt) on
    ``_corrupt_record`` — the engine-side errors/ prefix split (py:198).
    Spark disallows predicates that reference only the corrupt column on
    an uncached raw scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN), so the parsed frame is cached here. The cache lives on the
    INPUT ``df`` (unpersist on the derived splits is a no-op on the
    parent); release it with ``df.unpersist()`` when done with both
    splits."""
    cached = df.cache()
    good = cached.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = cached.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


def read_stream_files(spark: SparkSession, path: str, schema: T.StructType,
                      fmt: str = "parquet",
                      max_files_per_trigger: int = 10) -> DataFrame:
    """S5 — micro-batch stream source. maxFilesPerTrigger bounds each
    micro-batch the way the Kinesis event source's batch_size=100 does
    (py:652); new files are consumed from the scan's start (a file drop
    models a stream append)."""
    return (spark.readStream.format(fmt).schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(path))

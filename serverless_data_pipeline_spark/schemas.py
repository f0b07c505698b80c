"""Schema registry.

Replaces the reference's schema-on-read stack — the Glue crawler's nightly
inference (py:602-616) and the validation Lambda's config-bucket schemas
(py:113-117, py:252, md:300,316) — with an explicit ``StructType`` registry.
At 100 TB, schema inference is a full-data scan you never want; registered
schemas make every read a zero-inference, pruning-capable parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON payload string
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}


def _parquet_timestamp_unit(path: str, column: str) -> str | None:
    """Probe a parquet file/dir footer for a timestamp column's time unit.

    Returns 'ns' | 'us' | 'ms' | 's', or None when the column is absent or
    not a timestamp. Footer-only read (pyarrow), no Spark job — schema-on-read
    the way the reference's Glue-crawler contract intends (py:602-616): the
    reader adapts to whatever physical unit the producer wrote, instead of
    assuming one and silently corrupting when the producer shifts.
    """
    import os

    import pyarrow.parquet as pq
    import pyarrow as pa

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", ".")))
        if not parts:
            return None
        probe = os.path.join(path, parts[0])
    try:
        arrow_schema = pq.ParquetFile(probe).schema_arrow
    except (OSError, pa.ArrowInvalid):
        return None
    if column not in arrow_schema.names:
        return None
    typ = arrow_schema.field(column).type
    return typ.unit if pa.types.is_timestamp(typ) else None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Registered-schema parquet scan (S2). No inference, prunable.

    `events.parquet` has historically shifted physical type under us:
    TIMESTAMP(NANOS) in one fixture generation, TIMESTAMP(MICROS) in the
    next. PySpark cannot map parquet nanos to TimestampType directly, so for
    a nanos file we read `ts` as a long (`spark.sql.legacy.parquet.
    nanosAsLong=true`) and truncate to micros (`ts div 1000` — integer
    division, matching DuckDB's ns→us truncation). The unit is probed from
    the parquet footer per read, never assumed: a micros/millis file reads
    straight through the registered TimestampType schema.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = SCHEMAS.get(name)
    if name == "events" and _parquet_timestamp_unit(path, "ts") == "ns":
        # Conf is runtime-settable; set defensively for driver-owned
        # sessions that did not go through get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        read_schema = T.StructType([
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in schema.fields])
        raw = spark.read.schema(read_schema).parquet(path)
        from pyspark.sql import functions as F
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql queries —
    the Spark analogue of the Glue catalog + Athena surface (py:581-629)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

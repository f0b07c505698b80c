"""Sources & sinks (SURVEY §2.1 S1-S9)."""

from serverless_data_pipeline_spark.sources.readers import (
    read_json_raw, read_stream_files,
)
from serverless_data_pipeline_spark.sources.writers import (
    write_archive, write_partitioned_parquet, write_quarantine,
)

__all__ = [
    "read_json_raw", "read_stream_files",
    "write_partitioned_parquet", "write_archive", "write_quarantine",
]

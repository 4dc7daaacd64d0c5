from .parquet_lake import CommitConflict, MergeResult, ParquetLakeTarget  # noqa: F401

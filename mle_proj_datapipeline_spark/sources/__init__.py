from mle_proj_datapipeline_spark.sources.catalog import TABLES, load_table
from mle_proj_datapipeline_spark.sources.readers import read_csv, read_parquet

__all__ = [
    "TABLES",
    "load_table",
    "read_csv",
    "read_parquet",
]

"""f1_datalakehouse_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``naveethzan/f1-datalakehouse-pipeline`` (a medallion bronze→silver→gold
lakehouse ETL for Formula 1 data; see /root/repo/SURVEY.md) as idiomatic
Spark: DataFrame ETL over partitioned Parquet, declarative schema registry,
native-expression transforms (zero per-row Python UDFs in hot paths),
window-function analytics, SCD Type 2 dimension handling, and idempotent
partition-overwrite incremental processing — extended with large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
binary-payload MIME sniffing), all designed partition-parallel for 100 TB.
"""

from f1_datalakehouse_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"

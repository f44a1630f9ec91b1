from f1_datalakehouse_pipeline_spark.sources.testdata import TESTDATA_TABLES, load_table

__all__ = ["TESTDATA_TABLES", "load_table"]

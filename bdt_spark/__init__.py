"""bdt_spark — a PySpark-native engine with the capability surface of
datafusion-contrib/bdt, extended with LLM-training-data-pipeline operators.

Public API:
- session.get_spark           tuned SparkSession factory
- sources.io                  registration / extension dispatch
- operators.convert.convert   format conversion
- operators.compare.compare_files  positional + distributed compare
- operators.meta.read_parquet_meta parquet footer stats
- operators.asof.asof_join    point-in-time join
- functions.datetime.date_bin event-time binning shim
- plans                       the declared, DuckDB-oracled query inventory
- streaming                   Structured Streaming mirrors
"""

__version__ = "0.1.0"

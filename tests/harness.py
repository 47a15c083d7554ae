"""Helpers the test files share: stream draining, Spark job counting
and avro fixture schemas. Test harness only; no library code calls
them."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from bdt_spark.sources.avro import AvroError


def jobs_started(spark: SparkSession, fn) -> set:
    """Ids of the Spark jobs `fn` starts, from any thread (registration
    reads tables on a thread pool, whose jobs carry no job group): the
    ungrouped job ids the status tracker gains, read once the listener
    bus has delivered every event."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None)) - before


class _WriteReached(Exception):
    pass


def jobs_before_write(spark: SparkSession, fn, monkeypatch) -> set:
    """Ids of the Spark jobs `fn` starts before its first parquet write,
    which is stopped instead of run."""

    def stop(*_a, **_k):
        raise _WriteReached

    def run():
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", stop)
            try:
                fn()
            except _WriteReached:
                return
        raise AssertionError("no parquet write was reached")

    return jobs_started(spark, run)


def run_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a stream into an in-memory table with availableNow
    (production uses a real sink + checkpointLocation)."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# Spark schema -> avro writer schema, for writing avro fixtures with
# sources/avro.write_avro.
def _spark_type_to_avro(dt, name_hint="f"):
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "array",
            "items": _avro_nullable(dt.elementType, dt.containsNull, name_hint),
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "values": _avro_nullable(dt.valueType, dt.valueContainsNull, name_hint),
        }
    if isinstance(dt, T.StructType):
        return {
            "type": "record",
            "name": f"r_{name_hint}",
            "fields": [
                {
                    "name": f.name,
                    "type": _avro_nullable(
                        f.dataType, f.nullable, f"{name_hint}_{f.name}"
                    ),
                }
                for f in dt.fields
            ],
        }
    raise AvroError(f"cannot write spark type {dt} as avro")


def _avro_nullable(dt, nullable, name_hint="f"):
    t = _spark_type_to_avro(dt, name_hint)
    return ["null", t] if nullable else t


def spark_schema_to_avro(schema, name="topLevelRecord"):
    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": _avro_nullable(f.dataType, f.nullable, f.name),
            }
            for f in schema.fields
        ],
    }

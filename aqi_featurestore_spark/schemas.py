"""Fixed StructType registry — one declared schema per table.

The reference declares its schemas at every hop (Arrow schema at
airflow/dags/load.py:154-168, Feast Field schema at
feast/features/aqi_feature.py:21-26); inference appears only on a metadata
side-channel. We keep that discipline: every source read and every store
write goes through a schema from this module, so Catalyst can prune scans
and never pays inference cost on a 100 TB read.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Raw pollution record — reference airflow/dags/extract.py:75-88 and the
# explicit Arrow schema at airflow/dags/load.py:154-168.
RAW_AIR_QUALITY = StructType(
    [
        StructField("dt", LongType(), False),  # unix epoch seconds
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("aqi_level", LongType(), True),  # categorical 1-5
        StructField("co", DoubleType(), True),
        StructField("no", DoubleType(), True),
        StructField("no2", DoubleType(), True),
        StructField("o3", DoubleType(), True),
        StructField("so2", DoubleType(), True),
        StructField("pm2_5", DoubleType(), True),
        StructField("pm10", DoubleType(), True),
        StructField("nh3", DoubleType(), True),
    ]
)

# Offline feature row — projection at reference
# spark/code/write_to_bigquery.py:110.
FEATURE_ROW = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("feature_timestamp", TimestampType(), False),
        StructField("dt", LongType(), True),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("aqi", DoubleType(), True),
        StructField("hour", IntegerType(), True),
        StructField("day", IntegerType(), True),
        StructField("dayOfWeek", IntegerType(), True),
    ]
)

# Entity spine for point-in-time queries — reference
# model/aqi_predict_hn.py:18-21.
ENTITY_SPINE = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("event_timestamp", TimestampType(), False),
    ]
)

# Registry tables — reference spark/code/write_to_bigquery.py:139-148
# (lineage) and :179-208 (feature_metadata).
LINEAGE = StructType(
    [
        StructField("feature_name", StringType(), False),
        StructField("version", StringType(), False),
        StructField("source", StringType(), True),
        StructField("transformation_file", StringType(), True),
        StructField("timestamp", StringType(), True),
    ]
)

FEATURE_METADATA = StructType(
    [
        StructField("feature_name", StringType(), False),
        StructField("version", StringType(), False),
        StructField("formula", StringType(), True),
        StructField("description", StringType(), True),
        StructField("created_at", StringType(), True),
    ]
)

# Driver-provided synthetic tables (TESTDATA.md): the `events` stream table
# stands in for the raw sensor feed; documents/embeddings back the
# LLM-data-pipeline extension operators.
EVENTS = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("user_id", LongType(), False),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("label", IntegerType(), True),
    ]
)

# Multimodal extension: opaque binary payload + typed metadata. The decode
# step is stubbed (no codec libs in this container) but the schema and
# partitioning contracts are real.
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", StringType(), True),  # opaque bytes (b64) — binary at scale
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def as_nullable(dt):
    """``dt`` with every field, element and map value nullable: the
    schema Spark infers back from parquet it wrote (its writer makes all
    columns nullable), so a store that records this can skip inference."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def load_testdata(spark, sf_dir: str, *names: str):
    """Read driver-generated parquet tables; returns dict name -> DataFrame."""
    names = names or TESTDATA_TABLES
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}

"""Batch sources (SURVEY S1-S4).

The reference loads a Wikipedia-Miner CSV export into Redis; the Spark
recast reads the same CSV shapes straight into DataFrames with explicit
schemas (never inferSchema at scale — one pass saved, types stable) and
writes the dimension tables once. The Redis/in-memory datasources are
eliminated by design: the dictionary IS a DataFrame (broadcast or
shuffle-joined, linking.candidate_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RAW_LINKS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("anchor", T.StringType()),
    T.StructField("target_id", T.LongType()),
    T.StructField("is_link", T.BooleanType()),
])

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_raw_links_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: the Wikipedia-Miner-style dump load, CSV → typed DataFrame."""
    return (spark.read
            .schema(RAW_LINKS_SCHEMA)
            .option("header", "true")
            .option("mode", "FAILFAST")
            .csv(path))


def read_transcripts_json(spark: SparkSession, path: str) -> DataFrame:
    """S4 batch analogue of the HTTP text source: JSONL of turns."""
    return spark.read.schema(TRANSCRIPTS_SCHEMA).json(path)

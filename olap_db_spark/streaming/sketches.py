"""Streaming twin of operators/sketches.agg_count_min_sketch: continuous
count-min sketch maintenance over an unbounded key stream.

The batch counter table is the oracle (tests/test_streaming_sketches.py
replays the same fixture in MULTIPLE files and asserts the final streaming
state equals the batch sketch — the mergeability property doing real work:
each micro-batch contributes partial counts and Spark's streaming
aggregation state merges them associatively).

Scale: this is the rare streaming aggregation whose state is bounded BY
CONSTRUCTION — depth×width cells (1024 rows) regardless of stream volume
or key cardinality, so no watermark is needed to keep state finite. That
is exactly why frequency sketches, not exact per-key counts, are the
100 TB/day answer for hot-key detection and frequency capping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.sketches import bloom_bitmap, cms_cell_structs

_KEYS_SCHEMA = StructType([StructField("l_partkey", LongType())])


def stream_lineitem_keys(spark: SparkSession, lineitem_dir: str) -> DataFrame:
    """File-stream over lineitem parquet, projected to the sketched key
    (parquet file streams prune to the declared schema)."""
    return spark.readStream.schema(_KEYS_SCHEMA).parquet(lineitem_dir)


def cms_cells(keys: DataFrame) -> DataFrame:
    """Per-row (d, bucket) cell stream — the SAME cell builder as the
    batch operator (operators/sketches.cms_cell_structs), so streaming
    state and batch table are comparable by construction."""
    return keys.select(
        cms_cell_structs(F.col("l_partkey").cast("string")).alias("c")
    ).select(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))


def cms_sketch_stream(keys: DataFrame) -> DataFrame:
    """The continuously-maintained sketch: a streaming groupBy over the
    (d, bucket) grid. Bounded state (depth×width rows); micro-batch
    partials merge associatively — outputMode 'complete' emits the whole
    (tiny) sketch each trigger."""
    return cms_cells(keys).groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# --- continuous Bloom-bitmap maintenance -----------------------------------------

_ORDER_KEYS_SCHEMA = StructType([StructField("o_orderkey", LongType())])


def stream_order_keys(spark: SparkSession, orders_dir: str) -> DataFrame:
    """File-stream over orders parquet, projected to the filtered key."""
    return spark.readStream.schema(_ORDER_KEYS_SCHEMA).parquet(orders_dir)


def bloom_bitmap_stream(keys: DataFrame) -> DataFrame:
    """Streaming twin of operators/sketches.bloom_bitmap: the membership
    bitmap maintained continuously as keys arrive. bit_or is associative
    and idempotent, so micro-batch partial bitmaps merge into exactly the
    batch bitmap — and replays/duplicates are free (setting a bit twice is
    a no-op), which makes the state safe under at-least-once delivery.
    State is bounded BY CONSTRUCTION at ≤ _BLOOM_WORDS rows."""
    return bloom_bitmap(keys, "o_orderkey")

"""Source readers — the reference's ingest surface re-expressed
(SURVEY.md A1–A8).

The reference reads CSV locally and from S3 (pandas + s3fs), JSON from S3,
pages Postgres with SQLAlchemy, and point-looks-up DynamoDB. In Spark all
of those collapse into declarative readers; S3 is the same API with an
``s3a://`` path, and JDBC pushdown replaces client-side paging.

Rankings schemas follow FIXTURES.md §A (derived from
/root/reference/rankings_data/rankings_en-ca_1.csv:1 and the Ranking
dataclass /root/reference/ranking_urls_generator.py:99-116).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 7-column rankings_v1 (/root/reference/random_data_generator.py:28-37)
RANKINGS_V1_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("term", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("volume", T.LongType()),
        T.StructField("cpc", T.DoubleType()),
    ]
)

# 16-column ranking_urls (/root/reference/ranking_urls_generator.py:99-116);
# array columns arrive CSV-serialized as Python literals (A23).
RANKING_URLS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("root_domain", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("url_bone", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("volume", T.LongType()),
        T.StructField("cpc", T.DoubleType()),
        T.StructField("competition", T.DoubleType()),
        T.StructField("category_strings", T.StringType()),  # repaired below
        T.StructField("mm_difficulty", T.DoubleType()),
        T.StructField("traffic", T.DoubleType()),
        T.StructField("traffic_pct", T.DoubleType()),
        T.StructField("serp_features", T.StringType()),  # repaired below
        T.StructField("results_count", T.LongType()),
    ]
)


def read_rankings_csv(spark: SparkSession, path: str) -> DataFrame:
    """Typed CSV scan (A1/A2): header, explicit schema — schema inference
    at 100 TB means reading the data twice; never rely on it."""
    return spark.read.csv(path, header=True, schema=RANKINGS_V1_SCHEMA)


def repair_array_literal(col: Column) -> Column:
    """CSV round-trip repair for Python-literal lists (A23:
    /root/reference/ranking_urls_ingestor.py:60-61 uses ast.literal_eval).
    `['a', 'b']` → array<string> via quote normalization + from_json.
    Caveat (SURVEY.md §7.3 item 7): items containing single quotes would
    need real escaping — the reference's categories don't."""
    return F.from_json(
        F.regexp_replace(col, "'", '"'), T.ArrayType(T.StringType())
    )


def read_ranking_urls_csv(spark: SparkSession, path: str) -> DataFrame:
    """ranking_urls CSV with array-column repair applied."""
    raw = spark.read.csv(path, header=True, schema=RANKING_URLS_CSV_SCHEMA)
    return raw.withColumns(
        {
            "category_strings": repair_array_literal(F.col("category_strings")),
            "serp_features": repair_array_literal(F.col("serp_features")),
        }
    )


def jdbc_reader(
    spark: SparkSession,
    url: str,
    query: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
):
    """JDBC source (A5) with the reference's pushdown pattern: the
    filter/sort/page SQL (`rankings_generator.py:122-128`) runs inside the
    database via the ``query`` option; partition-column options split the
    read across executors (the scale replacement for LIMIT/OFFSET paging).

    Returns the configured reader (terminal ``.load()`` left to the
    caller). Live round-trip proven in tests/test_jdbc.py against the
    Derby engine embedded in Spark's classpath (write → paged/pushdown
    read → partitioned read)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", query)
        .option("fetchsize", 10_000)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    return reader

"""Catalog: the driver testdata tables as DataFrames / temp views.

The reference points its clients at a ClickHouse database
(``content_inventory`` — /root/reference/ingest.py:6); here the analogous
catalog is a directory of Parquet tables registered as Spark temp views, so
every capability is reachable both through the fluent DataFrame API and
through ``spark.sql(...)`` (the reference's dual client/SQL surface,
SURVEY.md §3.3).

At 100 TB these would be external tables (partitioned/bucketed) in a real
metastore. Here each table's schema comes from one Parquet footer read in
the calling process — the file and the conversion Spark's own inference
would use, under the session's conf — and the table is registered with that
declared schema, so registration starts no Spark job and reads no row data.
Catalyst still sees every file's footer at scan time for pruning.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

from pyspark.errors.exceptions.captured import convert_exception
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_EVENTS_RAW_SCHEMA = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)

# parquet timestamp unit → integer SQL expression rebasing the raw INT64
# to MICROS. Integer ops only (DIV/*) — nanos ~1.7e18 would lose precision
# as double.
_TO_MICROS = {
    "s": "ts * 1000000",
    "ms": "ts * 1000",
    "us": "ts",
    "ns": "ts DIV 1000",
}


def events_ts_unit(path: str) -> str:
    """Timestamp unit ('s'|'ms'|'us'|'ns') of an events parquet file or
    directory, from the footer (driver-side metadata read only — no data
    touched). The driver has regenerated testdata across rounds with
    different units (nanos in rounds 1-2, micros in round 3+), so this must
    be detected, not assumed — and re-read on every call, because a file
    may be rewritten in place with another unit."""
    import glob
    import os as _os

    import pyarrow.parquet as pq

    f = path
    if _os.path.isdir(path):
        files = sorted(glob.glob(f"{path}/*.parquet"))
        if not files:  # empty stream source dir: unit irrelevant yet
            return "us"
        f = files[0]
    typ = pq.read_schema(f).field("ts").type
    unit = getattr(typ, "unit", None)
    if unit is not None:
        return unit
    # raw INT64 with no timestamp annotation: classify by magnitude
    # (2001-09 .. 2128-06 in each unit; epochs in this data are ~2024).
    # One footer statistic, no data scan.
    md = pq.ParquetFile(f).metadata
    col = next(
        i for i in range(md.num_columns)
        if md.row_group(0).column(i).path_in_schema == "ts"
    )
    v = abs(md.row_group(0).column(col).statistics.min)
    for unit, lo in (("s", 1e8), ("ms", 1e11), ("us", 1e14), ("ns", 1e17)):
        if lo <= v < lo * 1000:
            return unit
    return "us"


def rebuild_ts_ntz(raw: DataFrame, unit: str) -> DataFrame:
    """Replace the raw INT64 ``ts`` with a TIMESTAMP_NTZ wall clock via pure
    integer arithmetic (no session timezone consulted). Shared by the batch
    catalog and the streaming source."""
    return (
        raw.withColumn("_us", F.expr(_TO_MICROS[unit]))
        .withColumn("_s", F.expr("_us DIV 1000000"))
        .withColumn(
            "_d",
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.expr("CAST(_s DIV 86400 AS INT)")
            ),
        )
        .withColumn(
            "ts",
            F.expr(
                "make_timestamp_ntz(year(_d), month(_d), day(_d),"
                " CAST((_s % 86400) DIV 3600 AS INT),"
                " CAST((_s % 3600) DIV 60 AS INT),"
                " CAST(_us % 60000000 AS DOUBLE) / 1000000.0)"
            ),
        )
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores a physical-INT64 timestamp whose unit has
    varied across driver testdata generations (nanos rejected by Spark's
    reader; micros readable but session-tz-sensitive). We read the physical
    INT64 directly (explicit schema — works on any session, no legacy conf),
    rebase to micros per the footer unit, and rebuild a TIMESTAMP_NTZ
    wall-clock column with pure integer arithmetic. No timezone is consulted
    anywhere, so results match the DuckDB oracle under any driver session
    timezone."""
    path = f"{sf_dir}/events.parquet"
    raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
    return rebuild_ts_ntz(raw, events_ts_unit(path))


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """Spark schema of the Parquet table at ``path``, read in this process
    the way Spark's inference reads it without ``mergeSchema``
    (``ParquetUtils.inferSchema``): list the leaf files with Spark's
    hidden-file rule, take the first in path order, and convert its footer
    with ``ParquetFileFormat.readSchemaFromFooter`` under the session's SQL
    conf — so ``inferTimestampNTZ``, INT96 and the schema Spark stores in
    the files it writes all apply as they do there. A missing path or a
    directory with no files raises the ``AnalysisException`` inference
    raises."""
    def jclass(name: str):  # one gateway round trip, not one per package
        return getattr(spark._jvm, name)

    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    errors = jclass("org.apache.spark.sql.errors.QueryCompilationErrors")
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = jclass("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    root = fs.makeQualified(root)
    if not fs.exists(root):
        raise convert_exception(errors.dataPathNotExistError(root.toString()))
    prefix = len(root.toString())
    hidden = jclass("org.apache.spark.util.HadoopFSUtils").shouldFilterOutPath
    files = {}
    listing = fs.listFiles(root, True)
    while listing.hasNext():
        status = listing.next()
        name = status.getPath().toString()
        if not hidden(name[prefix:]):
            files[name] = status
    if not files:
        raise convert_exception(errors.dataSchemaNotSpecifiedError("Parquet"))
    first = files[min(files)]
    skip_row_groups = jclass(
        "org.apache.parquet.format.converter.ParquetMetadataConverter"
    ).SKIP_ROW_GROUPS
    metadata = jclass(parquet + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(first, conf),
        skip_row_groups,
    )
    schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(first.getPath(), metadata),
        jclass(parquet + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table with its footer-derived schema declared.
    Column pruning + predicate pushdown apply."""
    if name == "events":
        return _load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> None:
    """Register the named testdata tables (default: all of them) as temp
    views named after themselves. Starts no Spark job."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

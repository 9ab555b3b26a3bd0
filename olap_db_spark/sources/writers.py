"""Sinks + idempotent ingest — the reference's write surface
(SURVEY.md A9–A14, A41–A43).

The reference bulk-loads CSV into ClickHouse (subprocess `clickhouse-client`
at /root/reference/ingest.py:18, columnar native-TCP inserts at
/root/reference/ranking_urls_ingestor.py:66-79) and tracks ingest-once
flags in DynamoDB (:82-93). Spark-first: appends become Parquet appends,
the `{locale}/{page}/{chunk}` S3 key choreography becomes
``partitionBy``, and the flag store becomes an ingest-log table probed
by batch id (row-level dedup is a left anti-join against the sink) — the
same idempotency, minus the second database.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from olap_db_spark.catalog import _footer_schema
from olap_db_spark.session import local_frame
from olap_db_spark.sources._fs import fs_for


def _read_parquet_if_exists(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Read a parquet table, returning None ONLY when it doesn't exist
    yet: path absent, or an existing-but-empty directory (a failed first
    write can leave one — schema inference then raises
    UNABLE_TO_INFER_SCHEMA, which must not wedge ingest forever). Any
    other failure (corrupt footer, permissions) RAISES: swallowing those
    turned transient read errors into silent data loss / duplicate
    ingest in earlier drafts. Without ``schema``, one Parquet footer read
    in this process gives it (``catalog._footer_schema``): no Spark job."""
    try:
        return spark.read.schema(schema or _footer_schema(spark, path)).parquet(path)
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" in str(ex) or "UNABLE_TO_INFER_SCHEMA" in str(ex):
            return None
        raise


def _in_partitions(partition_col: str, values: list) -> Column:
    """Rows whose ``partition_col`` is one of ``values``. NULL partition
    values need an explicit isNull arm: isin() never matches NULL, so
    without it the existing null-partition rows would be dropped while
    dynamic overwrite still replaces that partition — silent data loss."""
    col = F.col(partition_col)
    cond = col.isin([v for v in values if v is not None])
    if any(v is None for v in values):
        cond = cond | col.isNull()
    return cond


def _overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Replace the partitions present in ``df`` and leave the rest alone.
    ``df`` may read the very partitions it replaces: a dynamic overwrite
    writes into a per-job ``.spark-staging-<id>`` directory and swaps the
    partitions in only at job commit, after every task has read its
    input. (A static overwrite deletes the target first and cannot.) The
    mode is a per-write option, never the session conf, so concurrent
    writes on the shared session are unaffected."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """A11's `{locale}/{page}/{chunk}` layout → directory partitioning;
    readers prune partitions from the path (SURVEY.md §4.2)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar sink #2: ORC (zlib), the Hive-ecosystem twin of parquet.
    Same pushdown/pruning contract — predicate pushdown and column
    pruning reach the ORC reader exactly as they do the parquet one
    (asserted in tests/test_sources.py)."""
    df.write.mode("overwrite").option("compression", "zlib").orc(path)


_LOG_SCHEMA = "batch_id STRING"


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    log_path: str,
    batch_id: str,
) -> bool:
    """Ingest-once semantics (A41–A43): skip if ``batch_id`` is already in
    the ingest log; else append data THEN commit the flag (same order as
    the reference: flag write after ingest,
    /root/reference/ranking_urls_ingestor.py:114 — a crash between the two
    re-ingests rather than drops, matching its at-least-once choice).

    Returns True if the batch was written, False if skipped. The probe is
    one Spark job: a plain ``collect()`` of the log rows matching
    ``batch_id``, a tiny result since each batch id is logged once.
    (``limit(1).count()`` took two under AQE: a map stage for the
    limit's exchange, then the count.) The flag is a ``local_frame``, so
    its append is one JVM task with no Python worker: 3 jobs for a new
    batch on an existing log, 1 for a replay. At 100 TB the log is a
    partitioned table and the probe is a partition-pruned lookup."""
    log = _read_parquet_if_exists(spark, log_path, schema=_LOG_SCHEMA)
    if log is not None and log.filter(F.col("batch_id") == batch_id).collect():
        return False
    df.write.mode("append").parquet(path)
    local_frame(spark, [(batch_id,)], _LOG_SCHEMA).write.mode("append").parquet(
        log_path
    )
    return True


def upsert_partition_scoped(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    partition_col: str,
    key_cols: list[str],
    order_col: str,
) -> list:
    """Partition-scoped keep-latest upsert — the `replaceWhere` analog for
    a directory-partitioned Parquet table (the write side of ClickHouse's
    ReplacingMergeTree, SURVEY.md §2.3 "argmax-dedup").

    Only partitions PRESENT IN ``incoming`` are read (partition-pruned
    scan), merged (keep highest ``order_col`` per key, ties broken by the
    order column only, so supply a unique one), and written straight back
    to ``path`` with a dynamic partition overwrite; every other
    partition's files are untouched bytes on disk (asserted by
    mtime+content in tests/test_upsert.py). Assumes keys don't move
    between partitions — the same contract `replaceWhere` imposes.

    Returns the list of replaced partition values."""
    from pyspark.sql.window import Window

    parts = [
        r[0] for r in incoming.select(partition_col).distinct().collect()
    ]
    existing = _read_parquet_if_exists(spark, path)
    if existing is None:
        unioned = incoming
    else:
        unioned = existing.filter(
            _in_partitions(partition_col, parts)
        ).unionByName(incoming)
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    merged = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _overwrite_partitions(merged, path, partition_col)
    return parts


def dedup_against_existing(
    spark: SparkSession, incoming: DataFrame, path: str, key_cols: list[str]
) -> DataFrame:
    """Row-level idempotency: anti-join incoming rows against the keys
    already present in the sink (the ingest-log-as-anti-join pattern,
    SURVEY.md A42 Spark mapping). Key columns only are scanned from the
    sink (column pruning)."""
    sink = _read_parquet_if_exists(spark, path)
    if sink is None:
        return incoming
    return incoming.join(sink.select(*key_cols), key_cols, "left_anti")


def delete_where(
    spark: SparkSession,
    path: str,
    partition_col: str,
    predicate: str,
) -> list:
    """Partition-scoped DELETE (the ClickHouse ``ALTER TABLE ... DELETE``
    analog; reference backend surface) for a directory-partitioned Parquet
    table — the GDPR/right-to-erasure shape at 100 TB.

    One grouped aggregate finds the partitions holding matching rows and,
    among them, the ones every row of which matches. Only the touched
    partitions are rewritten without the matching rows, straight back to
    ``path`` via dynamic partition overwrite; untouched partitions stay
    byte-identical on disk. Returns the list of rewritten partition
    values."""
    existing = _read_parquet_if_exists(spark, path)
    if existing is None:
        return []
    # SQL DELETE removes rows where the predicate is TRUE; rows where it
    # evaluates to NULL must SURVIVE. A bare filter(~cond) drops them
    # (three-valued logic: NOT NULL → NULL → filtered out) — silent data
    # loss for e.g. `value > 100` against a NULL value row sharing a
    # rewritten partition with a match.
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    flags = (
        existing.groupBy(
            partition_col, F.col(partition_col).cast("string").alias("dir_value")
        )
        .agg(F.max(hit).alias("touched"), F.min(hit).alias("emptied"))
        .filter("touched")
        .collect()
    )
    if not flags:
        return []
    touched = [r[0] for r in flags]
    _overwrite_partitions(
        existing.filter(_in_partitions(partition_col, touched)).filter(~hit),
        path,
        partition_col,
    )
    # Dynamic overwrite only rewrites partitions PRESENT in the output —
    # a partition whose every row matches the predicate would silently
    # keep its old files. Those are dropped explicitly (the DROP
    # PARTITION analog; on a real cluster this is the same filesystem
    # delete against the partition directory), named by the rule Spark's
    # writer uses: the value cast to string, column and value escaped
    # (`a:b` lives in `tag=a%3Ab`), NULL as __HIVE_DEFAULT_PARTITION__.
    part_dir = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
    )
    fs = fs_for(path)
    for r in flags:
        if r["emptied"]:
            fs.delete(f"{path.rstrip('/')}/{part_dir(partition_col, r['dir_value'])}")
    return touched


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> list:
    """Small-file compaction (the OPTIMIZE / ClickHouse merge analog) for
    a directory-partitioned Parquet table. A partition is rewritten only
    when its file count exceeds ``ceil(partition_bytes / target_bytes)``,
    the count its volume needs, and is coalesced to exactly that many
    files (no shuffle). Untouched partitions stay byte-identical, rows
    never change, and a re-run is a no-op unless merging improved
    compression enough to cross a ``target_bytes`` multiple. The file
    inventory is a driver-side listing through ``sources/_fs.py``.

    All fragmented partitions are rewritten by ONE dynamic partition
    overwrite (``_overwrite_partitions``, as UPSERT and DELETE do): one
    Spark job. Each partition is read with its footer schema plus the
    partition column as ``string``, so its directory name comes back
    unchanged (an inferred ``int`` would turn ``p=01`` into ``p=1``). A
    failed job leaves the table as it was. The crash window is Spark's
    job commit, the same as UPSERT's and DELETE's: it deletes each
    rewritten partition directory and renames the new one in, so a
    driver that dies mid-commit leaves those partitions missing from the
    table while their rows sit complete in ``.spark-staging-<id>``.

    A ``.compact_bak`` left by the earlier rename-swap compaction may
    hold the only copy of a partition, so compaction raises while one
    exists. Returns the compacted partition values, directory-encoded."""
    import math

    fs = fs_for(path)
    base = path.rstrip("/")
    if not fs.isdir(base):
        return []
    parked = f"{base}/.compact_bak"
    if fs.exists(parked):
        raise RuntimeError(
            f"{parked} may hold the only copy of a partition: move each"
            " entry whose partition directory is missing back into the"
            " table, then delete it"
        )
    prefix = f"{partition_col}="

    parts, compacted = [], []
    for entry in fs.listdir(base):
        pdir = f"{base}/{entry}"
        if not (entry.startswith(prefix) and fs.isdir(pdir)):
            continue
        files = [
            f"{pdir}/{f}"
            for f in fs.listdir(pdir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        total = sum(fs.getsize(f) for f in files)
        want = max(1, math.ceil(total / target_bytes))
        if len(files) > want:
            schema = _footer_schema(spark, pdir).add(partition_col, "string")
            read = spark.read.schema(schema).option("basePath", base).parquet(pdir)
            parts.append(read.coalesce(want))
            compacted.append(entry[len(prefix):])
    if parts:
        _overwrite_partitions(reduce(DataFrame.unionByName, parts), base, partition_col)
    return compacted

"""Materialized-rollup maintenance — the ClickHouse materialized-view /
AggregatingMergeTree analog for the engine's storage layer.

The reference's backend is ClickHouse (docker-compose.yml:4), where daily
rollups are maintained as materialized views over the event stream. The
Spark-first equivalent: the rollup lives as a day-partitioned Parquet
table, and refresh = recompute ONLY the affected day partitions from the
source and atomically replace them (dynamic partition overwrite) — the
same partition-scoped machinery as ``upsert_partition_scoped``.

Scale shape: a refresh reads `days`-filtered source (partition-pruned at
100 TB when events are date-partitioned), aggregates map-side, and
rewrites only those day directories; every other partition's files are
untouched bytes. Late data is handled by re-listing the affected day —
exactly how a ClickHouse MV backfill works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.events_ts import ts_daily_rollup
from ..sources.writers import _overwrite_partitions, _read_parquet_if_exists


def refresh_daily_rollup(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    days: list | None = None,
) -> list:
    """Incrementally maintain the daily rollup at ``sink_path``.

    - ``days=None``: compute the days present in the source but MISSING
      from the sink (the steady-state incremental refresh).
    - ``days=[...]``: recompute exactly those days (late-data backfill).

    Returns the list of day partitions written. Idempotent: refreshing an
    already-current sink writes nothing.
    """
    rollup = ts_daily_rollup(spark, sf_dir)  # day, n_events, ... (1 row/day)
    existing = _read_parquet_if_exists(spark, sink_path)
    if days is not None:
        fresh = rollup.filter(F.col("day").isin(days))
    elif existing is None:
        fresh = rollup
    else:
        fresh = rollup.join(existing.select("day"), "day", "left_anti")
    parts = [r[0] for r in fresh.select("day").distinct().collect()]
    if not parts:
        return []
    _overwrite_partitions(fresh, sink_path, "day")
    return parts

"""Catalog registration: footer-derived schemas equal Spark's inference,
registration starts no Spark job, and the errors of a bad path are the
ones inference raises."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from olap_db_spark import registry
from olap_db_spark.catalog import TABLES, load, register_views
from tests.conftest import SF_ORACLE, SF_SMOKE

_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_SF_DIRS = (SF_SMOKE, SF_ORACLE, str(Path(SF_SMOKE).with_name("sf0.1")))

# The queries that run SQL text against catalog views, and nothing else.
_SQL_CALLERS = (
    "q2_min_cost_supplier",
    "q4_priority_exists",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q18_large_volume_orders",
    "q20_promotion_suppliers",
    "q21_waiting_supplier",
    "q22_dormant_customers",
)


def test_footer_schema_matches_inference(spark, tmp_path):
    """``load``'s declared schema is the one ``spark.read.parquet`` infers,
    under both ``inferTimestampNTZ`` settings (``o_orderdate`` and
    ``l_shipdate`` flip between ``timestamp`` and ``timestamp_ntz``), for
    the pyarrow-written testdata and for Spark-written multi-file copies of
    ``orders`` (INT96 timestamps and Spark's stored row schema)."""
    before = spark.conf.get(_NTZ)
    try:
        for written_ntz in ("true", "false"):
            spark.conf.set(_NTZ, written_ntz)
            out = tmp_path / f"ntz_{written_ntz}" / "orders.parquet"
            load(spark, _SF_DIRS[1], "orders").repartition(3).write.parquet(str(out))
            assert len(list(out.glob("part-*.parquet"))) == 3
        for ntz in ("true", "false"):
            spark.conf.set(_NTZ, ntz)
            for sf_dir in _SF_DIRS:
                for name in TABLES:
                    if name == "events":
                        continue
                    want = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
                    assert load(spark, sf_dir, name).schema == want, (ntz, sf_dir, name)
            for written_ntz in ("true", "false"):
                copy = tmp_path / f"ntz_{written_ntz}"
                want = spark.read.parquet(f"{copy}/orders.parquet").schema
                assert load(spark, str(copy), "orders").schema == want, (
                    ntz,
                    written_ntz,
                )
    finally:
        spark.conf.set(_NTZ, before)


def test_register_views_starts_no_job(spark, tmp_path):
    """Registering every table, and loading each one, starts no Spark job.
    A missing directory and an empty table directory raise the
    ``AnalysisException`` error classes that inference raises."""
    sc = spark.sparkContext
    tag = "test_register_views_starts_no_job"
    sc.addJobTag(tag)
    try:
        register_views(spark, _SF_DIRS[0])
        for name in TABLES:
            load(spark, _SF_DIRS[0], name)
        assert list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) == []
    finally:
        sc.removeJobTag(tag)

    with pytest.raises(AnalysisException, match=r"\[PATH_NOT_FOUND\]"):
        register_views(spark, str(tmp_path / "missing"))

    empty = tmp_path / "empty" / "orders.parquet"
    empty.mkdir(parents=True)
    with pytest.raises(AnalysisException) as inferred:
        spark.read.parquet(str(empty))
    with pytest.raises(AnalysisException) as loaded:
        load(spark, str(tmp_path / "empty"), "orders")
    assert loaded.value.getCondition() == inferred.value.getCondition()
    assert loaded.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"


def test_events_unit_follows_in_place_rewrite(spark, tmp_path):
    """``events.parquet`` rewritten in place with another timestamp unit
    (nanos, then micros) loads the same wall clock both times: the unit is
    read from the current footer, not remembered per path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    wall = dt.datetime(2024, 1, 23, 8, 53, 20, 123456)
    micros = 1_706_000_000_123_456
    for unit, raw in (("ns", micros * 1000), ("us", micros)):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1], pa.int64()),
                    "ts": pa.array([raw], pa.timestamp(unit)),
                    "user_id": pa.array([7], pa.int64()),
                    "event_type": pa.array(["view"]),
                    "value": pa.array([1.5]),
                    "props": pa.array(["{}"]),
                }
            ),
            tmp_path / "events.parquet",
        )
        got = load(spark, str(tmp_path), "events").select("ts").collect()
        assert [r.ts for r in got] == [wall], unit


def test_sql_callers_register_the_views_they_read(spark):
    """Each query that runs SQL over catalog views registers every table its
    SQL reads: in a session with no temp views, building the query (which
    analyzes the SQL) succeeds."""
    fns = registry.query_fns()
    for name in _SQL_CALLERS:
        fresh = spark.newSession()
        assert not [t for t in fresh.catalog.listTables() if t.isTemporary]
        fns[name](fresh, _SF_DIRS[0])

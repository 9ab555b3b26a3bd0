"""End-to-end through the user facade: the reference's whole lifecycle —
generate → CSV (its interchange format) → typed read → normalize →
partitioned parquet → SQL analytics — on this engine."""

from __future__ import annotations

import threading
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from olap_db_spark import api
from olap_db_spark.api import OlapEngine, classify_statement
from olap_db_spark.functions.urls import url_bone
from olap_db_spark.sources.generator import generate_rankings
from olap_db_spark.sources.readers import read_rankings_csv

SF = "/root/testdata/sf0.001"


def test_engine_facade(spark):
    eng = OlapEngine(SF, spark=spark)
    assert eng.is_alive()
    assert "lineitem" in eng.tables()
    # SQL surface over the registered catalog
    n = eng.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == 6000
    top = eng.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        GROUP BY l_returnflag ORDER BY n DESC LIMIT 1
        """
    ).collect()[0]
    assert top["n"] > 0
    # DataFrame surface
    assert eng.table("region").count() == 5


def test_full_ingest_pipeline(spark, tmp_path):
    """generate → CSV → typed read → url_bone normalize → partitioned
    parquet → analytical query; re-ingest is a no-op."""
    eng = OlapEngine(SF, spark=spark)
    raw = generate_rankings(spark, 2000, n_partitions=4)
    csv_dir = str(tmp_path / "csv")
    raw.write.mode("overwrite").option("header", True).csv(csv_dir)

    typed = read_rankings_csv(spark, csv_dir)
    assert typed.schema.simpleString() == raw.schema.simpleString()
    normalized = typed.withColumn("url_bone", url_bone(F.col("url")))

    table, log = str(tmp_path / "rankings"), str(tmp_path / "log")
    assert eng.ingest(normalized, table, log, "chunk-0") is True
    assert eng.ingest(normalized, table, log, "chunk-0") is False  # replay
    stored = spark.read.parquet(table)
    assert stored.count() == 2000

    # the analytical query the schema exists for: best rank per domain/date
    best = (
        stored.groupBy("domain", "date")
        .agg(F.min("rank").alias("best_rank"), F.sum("volume").alias("vol"))
    )
    assert best.count() > 0
    assert best.filter(F.col("best_rank") < 1).count() == 0


def test_engine_sql_delete_from(spark, tmp_path):
    """DELETE FROM '<path>' PARTITION BY p WHERE ... routes to the
    partition-scoped delete: matching rows gone, empty partitions
    dropped, result lists rewritten partitions."""
    from olap_db_spark.api import OlapEngine

    eng = OlapEngine("/root/testdata/sf0.001", spark)
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, "drop"), (1, 11, "keep"), (2, 20, "drop")],
        "day int, id int, tag string",
    ).write.partitionBy("day").parquet(path)
    res = eng.sql(
        f"DELETE FROM '{path}' PARTITION BY day WHERE tag = 'drop'"
    ).collect()
    assert sorted(r[0] for r in res) == ["1", "2"]
    left = sorted((r["day"], r["id"]) for r in spark.read.parquet(path).collect())
    assert left == [(1, 11)]


_GRAMMAR = [
    # every accepted spelling of each engine-routed verb
    ("UPSERT INTO '/t' PARTITION BY day KEY (id) ORDER BY ver SELECT * FROM s", "UPSERT"),
    ("  upsert into '/t' partition by day key ( id , k2 ) order by ver select 1  \n", "UPSERT"),
    ("Upsert Into '/t' Partition By day Key(id) Order By ver SELECT 1 AS id,\n 2 AS day", "UPSERT"),
    ("DELETE FROM '/t' PARTITION BY day WHERE tag = 'drop'", "DELETE"),
    ("\n delete from '/t' partition by day where tag = 'drop'\n  and id > 3 \n", "DELETE"),
    ("OPTIMIZE '/t' PARTITION BY day", "OPTIMIZE"),
    (" optimize '/t' partition by day target_bytes 1048576 \n", "OPTIMIZE"),
    ("VACUUM '/t'", "VACUUM"),
    ("vacuum '/t' keep 3", "VACUUM"),
    ("VACUUM '/t' GRACE 0", "VACUUM"),
    ("  Vacuum '/t' Keep 1 Grace 60  ", "VACUUM"),
    ("RESTORE '/t' TO VERSION 2", "RESTORE"),
    (" restore '/t' to version 10\n", "RESTORE"),
    ("SHOW VERSIONS FROM '/t'", "SHOW_VERSIONS"),
    ("  show   versions from '/t'  ", "SHOW_VERSIONS"),
    ("READ '/t' VERSION AS OF 1", "READ_VERSION"),
    ("\tread '/t' version as of 3 \n", "READ_VERSION"),
    # near-misses fall through to plain Spark SQL
    ("DELETE FROM orders WHERE o_orderkey = 1", None),
    ("OPTIMIZE '/t'", None),
    ("OPTIMIZE '/t' PARTITION BY day FINAL", None),
    ("RESTORE '/t' TO VERSION 2 NOW", None),
    ("SHOW VERSIONS FROM '/t' LIMIT 1", None),
    ("UPSERT INTO '/t' PARTITION BY day KEY (id) ORDER BY ver", None),
    ("SELECT 'VACUUM ''/x'''", None),
    ("INSERT OVERWRITE t SELECT 1", None),
    ("SELECT 1", None),
]


@pytest.mark.parametrize("stmt,verb", _GRAMMAR)
def test_statement_grammar(stmt, verb):
    """Pins the statement grammar shared by ``OlapEngine.sql`` and the HTTP
    server's mutation gate: case, surrounding whitespace, newlines inside
    free-form tails and every optional clause."""
    assert classify_statement(stmt) == verb


def test_writers_are_reached_through_api_names(spark, tmp_path, monkeypatch):
    """perfbench's tracer rebinds these four ``api`` module names; the
    engine must look them up at call time or the traced writer layers
    record nothing."""
    calls = []

    def recording(name):
        inner = getattr(api, name)

        def wrapper(*a, **kw):
            calls.append(name)
            return inner(*a, **kw)

        monkeypatch.setattr(api, name, wrapper)

    for name in ("register_views", "idempotent_append", "upsert_partition_scoped", "delete_where"):
        recording(name)
    eng = OlapEngine(SF, spark=spark)
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10, 1)], "day int, id int, ver int").write.partitionBy(
        "day"
    ).parquet(path)
    eng.sql(f"UPSERT INTO '{path}' PARTITION BY day KEY (id) ORDER BY ver SELECT 1 AS day, 10 AS id, 2 AS ver")
    eng.sql(f"DELETE FROM '{path}' PARTITION BY day WHERE id = 10")
    eng.ingest(
        spark.createDataFrame([(2, 20, 1)], "day int, id int, ver int"),
        str(tmp_path / "a"),
        str(tmp_path / "log"),
        "b-0",
    )
    assert calls == ["register_views", "upsert_partition_scoped", "delete_where", "idempotent_append"]


_MODE = "spark.sql.sources.partitionOverwriteMode"


def _partitioned_table(spark, tmp_path):
    name = f"io_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {name} (v INT, d INT) USING parquet PARTITIONED BY (d) "
        f"LOCATION '{tmp_path / name}'"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 1), (2, 2), (3, 3)")
    return name


def _rows(spark, name):
    return sorted(tuple(r) for r in spark.table(name).collect())


def test_insert_overwrite_replaces_only_produced_partitions(spark, tmp_path):
    eng = OlapEngine(SF, spark=spark)
    name = _partitioned_table(spark, tmp_path)
    prior = spark.conf.get(_MODE)
    try:
        eng.sql(f"INSERT OVERWRITE {name} SELECT 11 AS v, 1 AS d")
        assert _rows(spark, name) == [(2, 2), (3, 3), (11, 1)]
        assert spark.conf.get(_MODE) == prior
        with pytest.raises(AnalysisException):
            eng.sql(f"INSERT OVERWRITE {name} SELECT v, d FROM no_such_table_here")
        assert spark.conf.get(_MODE) == prior
        assert _rows(spark, name) == [(2, 2), (3, 3), (11, 1)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


class _GatedSession:
    """A SparkSession whose ``sql`` first calls ``gate(query)``."""

    def __init__(self, spark, gate):
        self._spark, self._gate = spark, gate

    def __getattr__(self, attr):
        return getattr(self._spark, attr)

    def sql(self, query):
        self._gate(query)
        return self._spark.sql(query)


def test_overlapping_insert_overwrites_keep_dynamic_mode(spark, tmp_path):
    """Two INSERT OVERWRITEs on one shared session (the threaded server's
    case). The first waits inside its statement for the second to start;
    the second waits until the first has returned. Unserialized toggles
    let the first's restore run the second under static mode (wiping
    every partition it did not produce) and leave the session dynamic."""
    name = _partitioned_table(spark, tmp_path)
    prior = spark.conf.get(_MODE)
    first_in, second_in, first_done = (threading.Event() for _ in range(3))

    def gate(query):
        if "11 AS v" in query:
            first_in.set()
            second_in.wait(timeout=2)  # serialized: the second cannot get here
        elif "22 AS v" in query:
            second_in.set()
            first_done.wait(timeout=60)

    eng = OlapEngine(SF, spark=spark)
    eng.spark = _GatedSession(spark, gate)
    errors = []

    def run(value, part, done=None):
        try:
            eng.sql(f"INSERT OVERWRITE {name} SELECT {value} AS v, {part} AS d")
        except Exception as ex:  # noqa: BLE001 - reported by the main thread
            errors.append(ex)
        if done is not None:
            done.set()

    first = threading.Thread(target=run, args=(11, 1, first_done))
    second = threading.Thread(target=run, args=(22, 2))
    try:
        first.start()
        assert first_in.wait(timeout=60)
        second.start()
        first.join(120)
        second.join(120)
        assert not first.is_alive() and not second.is_alive()
        assert not errors
        assert _rows(spark, name) == [(3, 3), (11, 1), (22, 2)]
        assert spark.conf.get(_MODE) == prior
    finally:
        spark.conf.set(_MODE, prior)
        spark.sql(f"DROP TABLE IF EXISTS {name}")

"""Driver-built frames (``session.local_frame``): values the driver
already holds become a ``LocalRelation``, so the engine's statement
results collect without a Spark job and the ingest-once flag is written
without a Python worker."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql.types import StructType

from olap_db_spark.api import OlapEngine
from olap_db_spark.session import local_frame
from olap_db_spark.sources import versioned
from olap_db_spark.sources.writers import idempotent_append


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job tag; return (result, the number of
    Spark jobs it started). Waits for the listener bus first, so every
    finished job is counted."""
    tag = f"driver-frames-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        result = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return result, len(list(jsc.statusTracker().getJobIdsForTag(tag)))


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("s string", [("b",), ("a",)]),
        ("n long", [(2**40,), (-1,)]),
        ("version long, is_head boolean", [(1, False), (2, True)]),
        ("s string, n long", [(None, None), ("x", 3)]),
        ("s string", []),
    ],
    ids=["string", "long", "boolean", "null", "zero_rows"],
)
def test_local_frame_round_trips_as_local_relation(spark, ddl, rows):
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    got, jobs = _jobs(spark, df.collect)
    assert [tuple(r) for r in got] == rows
    assert jobs == 0


def test_verb_results_collect_without_a_job(spark, sf_dir, tmp_path):
    """Every verb's result frame is driver-built: collecting it starts no
    Spark job (a Python RDD started one per collect)."""
    eng = OlapEngine(sf_dir, spark=spark)
    src, tbl, vtbl = (str(tmp_path / n) for n in ("src", "tbl", "vtbl"))
    spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1)], "p STRING, k INT, v INT"
    ).write.parquet(src)
    for i in range(3):
        spark.createDataFrame([("a", i, 0)], "p STRING, k INT, v INT").write.mode(
            "append"
        ).partitionBy("p").parquet(tbl)
    for val in ("x", "y", "z"):
        versioned.snapshot_write(
            spark, spark.createDataFrame([(1, val)], "k INT, val STRING"), vtbl
        )

    statements = [
        (f"OPTIMIZE '{tbl}' PARTITION BY p", [("a",)]),
        (
            f"UPSERT INTO '{tbl}' PARTITION BY p KEY (k) ORDER BY v "
            f"SELECT * FROM parquet.`{src}`",
            [("a",), ("b",)],
        ),
        (f"DELETE FROM '{tbl}' PARTITION BY p WHERE k = 2", [("b",)]),
        (f"DELETE FROM '{tbl}' PARTITION BY p WHERE k = 99", []),
        (f"SHOW VERSIONS FROM '{vtbl}'", [(1, False), (2, False), (3, True)]),
        (f"RESTORE '{vtbl}' TO VERSION 2", [(2,)]),
        (f"VACUUM '{vtbl}' KEEP 1 GRACE 0", [(1,), (3,)]),
    ]
    for sql, want in statements:
        df = eng.sql(sql)
        got, jobs = _jobs(spark, df.collect)
        assert [tuple(r) for r in got] == want, sql
        assert jobs == 0, sql
        if not want:
            assert df.schema.simpleString() == "struct<rewritten_partition:string>"


def test_null_partitions_reported_as_null(spark, sf_dir, tmp_path):
    """UPSERT and DELETE report a NULL partition as SQL NULL, sorted last,
    not as the string ``'None'``."""
    eng = OlapEngine(sf_dir, spark=spark)
    src, tbl = str(tmp_path / "src"), str(tmp_path / "tbl")
    spark.createDataFrame(
        [(None, 1, 1), ("b", 2, 1), ("a", 3, 1)], "p STRING, k INT, v INT"
    ).write.parquet(src)
    upserted = eng.sql(
        f"UPSERT INTO '{tbl}' PARTITION BY p KEY (k) ORDER BY v "
        f"SELECT * FROM parquet.`{src}`"
    ).collect()
    assert [r.replaced_partition for r in upserted] == ["a", "b", None]
    deleted = eng.sql(f"DELETE FROM '{tbl}' PARTITION BY p WHERE k <> 2").collect()
    assert [r.rewritten_partition for r in deleted] == ["a", None]
    left = spark.read.parquet(tbl).collect()
    assert [(r.p, r.k) for r in left] == [("b", 2)]


def test_optimize_and_delete_name_partitions_alike(spark, sf_dir, tmp_path):
    """OPTIMIZE reports the partitions it compacts as values, the way
    DELETE does: ``a:b`` (stored in ``p=a%3Ab``) and SQL NULL (stored in
    the default partition), not their directory names."""
    eng = OlapEngine(sf_dir, spark=spark)
    tbl = str(tmp_path / "tbl")
    for i in range(2):
        spark.createDataFrame(
            [("a:b", i), (None, i)], "p STRING, k INT"
        ).write.mode("append").partitionBy("p").parquet(tbl)
    optimized = eng.sql(f"OPTIMIZE '{tbl}' PARTITION BY p").collect()
    deleted = eng.sql(f"DELETE FROM '{tbl}' PARTITION BY p WHERE k = 0").collect()
    assert [r.compacted_partition for r in optimized] == ["a:b", None]
    assert [r.rewritten_partition for r in deleted] == ["a:b", None]
    left = spark.read.parquet(tbl).collect()
    assert sorted((r.p or "", r.k) for r in left) == [("", 1), ("a:b", 1)]


def test_idempotent_append_job_counts(spark, tmp_path):
    """On an existing log a new batch starts 3 jobs (probe, data, flag)
    and a replay 1 (the probe); the log holds exactly the ids written."""
    path, log = str(tmp_path / "data"), str(tmp_path / "log")

    def batch(i: int):
        return spark.range(i * 10, i * 10 + 10)

    assert idempotent_append(spark, batch(0), path, log, "b0") is True
    written, jobs = _jobs(
        spark, lambda: idempotent_append(spark, batch(1), path, log, "b1")
    )
    assert (written, jobs) == (True, 3)
    written, jobs = _jobs(
        spark, lambda: idempotent_append(spark, batch(1), path, log, "b1")
    )
    assert (written, jobs) == (False, 1)

    read = spark.read.parquet(log)
    assert read.schema.simpleString() == "struct<batch_id:string>"
    assert sorted(r.batch_id for r in read.collect()) == ["b0", "b1"]
    assert spark.read.parquet(path).count() == 20

"""Conf-gated reliable checkpoint for data-sized intermediates (r13,
r12 VERDICT #2): with the gate OFF (the default), materialize() is the
same localCheckpoint call as before — plans unchanged; with the gate ON,
frames go through DataFrame.checkpoint into the configured directory so
an executor loss mid-query has a recompute path on a real cluster."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from olap_db_spark.operators._materialize import materialize

SF = "/root/testdata/sf0.001"

# A fresh session (the context checkpoint directory is sticky once any
# test sets it) asking for the reliable path with no directory.
_NO_DIRECTORY = """
from pyspark.sql import SparkSession
from olap_db_spark.operators._materialize import materialize

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.conf.set("spark.olap.reliableCheckpoint", "true")
try:
    materialize(spark.range(5))
except ValueError as ex:
    print(ex)
finally:
    spark.stop()
"""


def test_reliable_requires_a_directory():
    """The gate without a context checkpoint directory is a hard error,
    not a silent local fallback; the message names both ways to set one."""
    root = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", _NO_DIRECTORY],
        cwd=root,
        env={**os.environ, "PYTHONPATH": str(root)},
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert "spark.checkpoint.dir" in out
    assert "SparkContext.setCheckpointDir" in out


def test_default_is_local_checkpoint(spark, tmp_path):
    """Gate off: no reliable checkpoint files are written."""
    df = materialize(spark.range(100).select((F.col("id") * 2).alias("v")))
    assert df.count() == 100
    assert sorted(r["v"] for r in df.collect()) == [2 * i for i in range(100)]


@pytest.fixture
def reliable(spark, tmp_path):
    """Flip the gate on around a test, restoring the conf after."""
    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set("spark.olap.reliableCheckpoint", "true")
    try:
        yield ckdir
    finally:
        spark.conf.set("spark.olap.reliableCheckpoint", "false")


def test_reliable_path_writes_checkpoint_files(spark, reliable):
    df = materialize(spark.range(100).select((F.col("id") * 3).alias("v")))
    assert df.count() == 100
    # the context checkpoint dir now exists and holds rdd checkpoint data
    ckroot = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    local = ckroot.replace("file:", "")
    found = []
    for root, _dirs, files in os.walk(local):
        found += [os.path.join(root, f) for f in files]
    assert found, f"no reliable checkpoint files under {local}"
    assert sorted(r["v"] for r in df.collect()) == [3 * i for i in range(100)]
    # the checkpointed frame is pinned at the requested storage level
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    disk = materialize(spark.range(10), storage=StorageLevel.DISK_ONLY)
    assert disk.storageLevel == StorageLevel.DISK_ONLY
    assert not materialize(spark.range(10), storage=None).is_cached
    df.unpersist()
    disk.unpersist()


def test_query_equal_under_reliable_checkpoint(spark, reliable):
    """An operator built on materialize() returns identical rows with the
    gate on (dedup_minhash_lsh exercises the shingled-corpus site)."""
    from olap_db_spark.registry import all_queries

    qs = all_queries()
    on = sorted(tuple(r) for r in qs["dedup_minhash_lsh"].fn(spark, SF).collect())
    spark.conf.set("spark.olap.reliableCheckpoint", "false")
    off = sorted(tuple(r) for r in qs["dedup_minhash_lsh"].fn(spark, SF).collect())
    assert on == off and len(on) > 0

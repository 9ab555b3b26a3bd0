"""Sources/sinks: typed CSV round trip, array-literal repair, partitioned
writes with pruning, idempotent ingest (A41–A43 semantics)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from olap_db_spark.sources.generator import generate_rankings
from olap_db_spark.sources.readers import (
    read_ranking_urls_csv,
    read_rankings_csv,
    repair_array_literal,
)
from olap_db_spark.sources.writers import (
    dedup_against_existing,
    idempotent_append,
    write_partitioned,
)


def test_rankings_csv_roundtrip(spark, tmp_path):
    # reference sample shape: rankings_data/rankings_en-ca_1.csv
    csv = tmp_path / "r.csv"
    csv.write_text(
        "domain,date,term,url,rank,volume,cpc\n"
        "casino.org,2023-03-17,casino apps for iphone,https://www.casino.org/iphone/,1,246000,4.72\n"
        "gambling.com,2023-03-18,best slots,https://gambling.com/slots,2,1000,0.5\n"
    )
    df = read_rankings_csv(spark, str(csv))
    rows = df.orderBy("rank").collect()
    assert rows[0]["domain"] == "casino.org"
    assert rows[0]["date"] == datetime.date(2023, 3, 17)
    assert rows[0]["volume"] == 246000 and abs(rows[0]["cpc"] - 4.72) < 1e-9
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "date", "string", "string", "int", "bigint", "double",
    ]


def test_array_literal_repair(spark):
    df = spark.createDataFrame(
        [("['organic', 'videos']",), ("[]",)], "s STRING"
    ).select(repair_array_literal(F.col("s")).alias("a"))
    rows = df.collect()
    assert rows[0]["a"] == ["organic", "videos"]
    assert rows[1]["a"] == []


def test_ranking_urls_csv_arrays(spark, tmp_path):
    csv = tmp_path / "ru.csv"
    header = (
        "domain,root_domain,date,url_bone,url,term,rank,volume,cpc,competition,"
        "category_strings,mm_difficulty,traffic,traffic_pct,serp_features,results_count"
    )
    csv.write_text(
        header + "\n"
        'casino.org,casino.org,2023-03-17,casino.org/x,https://casino.org/x,t,1,10,0.1,0.5,'
        '"[\'a\', \'b\']",1.0,2.0,0.3,"[\'organic\']",100\n'
    )
    row = read_ranking_urls_csv(spark, str(csv)).collect()[0]
    assert row["category_strings"] == ["a", "b"]
    assert row["serp_features"] == ["organic"]


def test_partitioned_write_prunes(spark, tmp_path):
    df = generate_rankings(spark, 1000, n_partitions=4)
    out = str(tmp_path / "parts")
    write_partitioned(df, out, "domain")
    back = spark.read.parquet(out).filter(F.col("domain") == "casino.org")
    # partition pruning: the filter must reach PartitionFilters, not data
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(domain" in plan
    assert back.count() == 250


def test_idempotent_append(spark, tmp_path):
    df = generate_rankings(spark, 100, n_partitions=2)
    data, log = str(tmp_path / "data"), str(tmp_path / "log")
    assert idempotent_append(spark, df, data, log, "batch-1") is True
    n1 = spark.read.parquet(data).count()
    assert idempotent_append(spark, df, data, log, "batch-1") is False  # skip
    assert spark.read.parquet(data).count() == n1 == 100
    assert idempotent_append(spark, df, data, log, "batch-2") is True
    assert spark.read.parquet(data).count() == 200


def test_dedup_against_existing(spark, tmp_path):
    path = str(tmp_path / "sink")
    df = generate_rankings(spark, 50, n_partitions=1).withColumn(
        "id", F.monotonically_increasing_id()
    )
    df.write.parquet(path)
    incoming = df  # full overlap
    remaining = dedup_against_existing(spark, incoming, path, ["id"])
    assert remaining.count() == 0


def test_generator_value_domains(spark):
    df = generate_rankings(spark, 2000, n_partitions=4)
    agg = df.agg(
        F.min("rank").alias("rmin"), F.max("rank").alias("rmax"),
        F.min("volume").alias("vmin"), F.max("volume").alias("vmax"),
        F.min("cpc").alias("cmin"), F.max("cpc").alias("cmax"),
        F.countDistinct("domain").alias("nd"),
    ).collect()[0]
    assert 1 <= agg["rmin"] and agg["rmax"] <= 100
    assert agg["vmin"] >= 10 and agg["vmax"] <= 50_000_000 and agg["vmin"] % 10 == 0
    assert 0 <= agg["cmin"] and agg["cmax"] <= 10
    assert agg["nd"] == 4


def test_idempotent_append_survives_empty_log_dir(spark, tmp_path):
    """An existing-but-empty log dir (failed first write) must read as
    'no log yet', not wedge ingest with UNABLE_TO_INFER_SCHEMA."""
    data, log = str(tmp_path / "data2"), str(tmp_path / "log2")
    (tmp_path / "log2").mkdir()  # empty dir, no parquet files
    df = generate_rankings(spark, 10, n_partitions=1)
    assert idempotent_append(spark, df, data, log, "b1") is True
    assert idempotent_append(spark, df, data, log, "b1") is False


def test_events_ts_unit_detection(tmp_path):
    """The driver has regenerated events.parquet with different timestamp
    physical types across rounds (nanos r1-2, micros r3+); the catalog
    must detect annotated units AND classify raw unannotated INT64 by
    epoch magnitude."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olap_db_spark.catalog import events_ts_unit

    t_2024 = 1_706_000_000  # 2024-01-23, seconds
    # parquet logical timestamps are MILLIS/MICROS/NANOS only (a pyarrow
    # timestamp[s] is coerced to ms on write)
    for unit, mult in (("ms", 10**3), ("us", 10**6), ("ns", 10**9)):
        p = tmp_path / f"ann_{unit}.parquet"
        pq.write_table(
            pa.table({"ts": pa.array([t_2024 * mult], pa.timestamp(unit))}), p
        )
        assert events_ts_unit(str(p)) == unit, unit
    for unit, mult in (("s", 1), ("ms", 10**3), ("us", 10**6), ("ns", 10**9)):
        p = tmp_path / f"raw_{unit}.parquet"
        pq.write_table(
            pa.table({"ts": pa.array([t_2024 * mult], pa.int64())}), p
        )
        assert events_ts_unit(str(p)) == unit, f"raw {unit}"


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink/scan: values round-trip exactly, and both predicate
    pushdown and column pruning reach the ORC reader (the same scan
    contract the parquet path promises)."""
    from olap_db_spark.sources.writers import write_orc

    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = spark.read.orc(p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    plan = (
        back.filter(back.n_nationkey > 10)
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,10)]" in plan
    # column pruning: the scan reads exactly (n_nationkey, n_name)
    compact = plan.replace(" ", "")
    assert "n_name:string>" in compact and "struct<n_nationkey:" in compact
    assert "n_regionkey" not in compact and "n_comment" not in compact

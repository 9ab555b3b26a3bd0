"""Driver simulation: consume __spark_entry__ exactly as the driver does.

    python tools/drive_contract.py [name ...]

With no names every declared query is oracle-checked; names select a subset.
"""
import sys, json, hashlib
sys.path.insert(0, "/root/repo")
import __spark_entry__ as e
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())

# t1 smoke: entry()
df = e.entry(spark)
rows = df.collect()
print("SMOKE entry(): rows=", len(rows), "schema=", df.schema.simpleString())
for r in rows[:3]: print("   ", r)

# t2: queries vs oracle at sf0.01
qs, oracles = e.queries(), e.oracle_sql()
print("declared queries:", sorted(qs))
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")

def vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()

failures = []
for name in sys.argv[1:] or sorted(qs):
    try:
        fn = qs[name]
        sdf = fn(spark, "/root/testdata/sf0.01")
        srows = [tuple(r) for r in sdf.collect()]
        if name in oracles:
            # Fetch via ARROW, not fetchall(): the round driver's fetch path
            # coerces DuckDB HUGEINT (uncast integer SUMs) to float64, which
            # fetchall() masks — the root cause of every r4/r5 hash-red.
            tbl = con.sql(oracles[name]).arrow()
            dcols = tbl.column_names
            drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]
            ok = (len(srows)==len(drows)) and vhash(sdf.columns, srows)==vhash(dcols, drows)
            print(f"{name}: spark_rows={len(srows)} duck_rows={len(drows)} hash_match={ok}")
            if not ok: failures.append(name)
        else:
            print(f"{name}: NO ORACLE (driver records err=no_oracle) rows={len(srows)}")
            failures.append(name)
    except Exception as ex:
        failures.append(name)
        print(f"{name}: CRASH {type(ex).__name__}: {str(ex).splitlines()[0][:140]}")
print(f"FAILURES: {failures}" if failures else "ALL OK")
spark.stop()

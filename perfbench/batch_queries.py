"""``batch_queries``: registry queries executed through the ``noop`` sink.

Two fixed lists run in passes: TPC-H queries (executor-bound scans, joins
and shuffles) and curation queries, the only ones here that go through
Python workers (``mm_phash_dedup``'s ``mapInPandas``). The first pass is
untimed: it collects every result and compares its row count and
order-insensitive hash with the query's DuckDB oracle over the same
tables, which also warms the JVM and the Python workers. A fixed number of
timed passes follow (three for a 10-second run); each query's time is its
best over the timed passes.
"""

from __future__ import annotations

import hashlib
import time
from collections import defaultdict

import duckdb

import datagen
from stats import percentile

TPCH = ("q1_pricing_summary", "q18_large_volume_orders")
CURATION = ("dedup_minhash_lsh", "mm_phash_dedup")


def _digest(cols, rows) -> tuple[int, str]:
    """Row count and order-insensitive hash, columns taken by sorted name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def _oracle_digests(data, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
            )
        out = {}
        for name, sql in oracles.items():
            tbl = con.sql(sql).arrow()
            cols = tbl.column_names
            out[name] = _digest(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
        return out
    finally:
        con.close()


def run(run):
    from run import Outcome

    out = Outcome()
    names = TPCH + CURATION
    setup_s = run.start_engine()
    from olap_db_spark import registry

    queries = registry.all_queries()
    oracles = registry.oracle_sqls()
    expected = _oracle_digests(run.data, {n: oracles[n] for n in names})
    spark, data = run.engine.spark, str(run.data)

    run.log(f"set up in {setup_s:.2f}s; oracle answers ready")
    for name in names:  # correctness + warm-up pass, untimed
        try:
            df = queries[name].fn(spark, data)
            got = _digest(df.columns, [tuple(r) for r in df.collect()])
        except Exception as ex:  # noqa: BLE001 - a failing query is counted
            run.log(f"{name} failed: {ex!r}"[:400])
            got = None
        out.check(got == expected[name])

    run.log("checked pass done")
    build = defaultdict(list)
    execute = defaultdict(list)
    passes = max(3, run.seconds // 3)
    for pass_no in range(1, passes + 1):
        for name in names:
            module = queries[name].fn.__module__.rsplit(".", 1)[-1]
            t0 = time.perf_counter()
            with run.span(f"operators.{module}.build", query=name, run=pass_no):
                df = queries[name].fn(spark, data)
            t1 = time.perf_counter()
            with run.span(f"operators.{module}.exec", query=name, run=pass_no):
                df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            build[name].append(t1 - t0)
            execute[name].append(t2 - t1)

    # best of the timed passes: other load on the host only ever adds time
    per_query = {n: min(b + e for b, e in zip(build[n], execute[n])) for n in names}
    times_ms = [per_query[n] * 1000 for n in names]
    out.end_to_end = {
        "setup_s": setup_s,
        "work_s": sum(per_query.values()),
        "p50_ms": percentile(times_ms, 50),
        "p75_ms": percentile(times_ms, 75),
        "qps": len(names) / sum(per_query.values()),
    }
    run.log(
        f"{passes} timed passes; tpch_s={sum(per_query[n] for n in TPCH):.3f}"
        f" curation_s={sum(per_query[n] for n in CURATION):.3f} "
        + " ".join(f"{n}={t:.3f}" for n, t in per_query.items())
    )
    if run.tracer is not None:
        out.per_layer = run.setup_layers()
        out.per_layer.update(_operator_layers(run.tracer, queries, names, passes))
    return out


def _operator_layers(tracer, queries, names, passes) -> dict[str, float]:
    """``operators.<module>.{build_s,exec_s,jobs,stages}``: times are sums
    over the module's queries of their best over timed passes; counts are
    per pass, from the last one."""
    tracer.resolve()
    layers: dict[str, float] = defaultdict(float)
    for name in names:
        module = queries[name].fn.__module__.rsplit(".", 1)[-1]
        for phase in ("build", "exec"):
            spans = tracer.named(f"operators.{module}.{phase}", query=name)
            layers[f"operators.{module}.{phase}_s"] += min(s.seconds for s in spans)
            last = [s for s in spans if s.attrs["run"] == passes]
            layers[f"operators.{module}.jobs"] += sum(s.jobs for s in last)
            layers[f"operators.{module}.stages"] += sum(s.stages for s in last)
    return dict(layers)

"""Write phase: idempotent appends with reads beside them, then
partition-scoped upserts and deletes.

Batches of ``BATCH_ROWS`` rankings rows come from
``sources.generator.generate_rankings`` with seeds derived from the run's
seed and an explicit partition count. Each goes through
``OlapEngine.ingest`` under a fixed batch id and is followed by a
read-after-write ``count(*)`` through ``OlapEngine.sql``. Every batch id is
then replayed and must be skipped. ``UPSERT INTO`` statements merge equal
rank slices of the landing table into a table partitioned by ``domain`` and
keyed on ``url``; ``DELETE FROM`` statements then remove the top ranks of
distinct seeded terms from it. The generator's ``date`` column follows the current day, so no
key, partition or predicate uses it. The first call of each kind is the
cold one and serves as its warm-up: it is checked but left out of the
kind's time, the best of the later calls.
"""

from __future__ import annotations

import random
import statistics
import time

BATCH_ROWS = 25_000
BATCHES = 3
UPSERTS = 3
DELETES = 3
KINDS = ("ingest", "fresh", "replay", "upsert", "delete")
_COLUMNS = "domain, term, url, rank, volume, cpc"


def _count(engine, table: str, where: str = "") -> int:
    sql = f"SELECT count(*) FROM parquet.`{table}`" + (f" WHERE {where}" if where else "")
    return engine.sql(sql).collect()[0][0]


def _url_rows(engine, table: str) -> tuple[int, int]:
    sql = f"SELECT count(*), count(DISTINCT url) FROM parquet.`{table}`"
    return tuple(engine.sql(sql).collect()[0])


def write_phase(run, out) -> dict:
    """Run every write once per planned operation. Returns each kind's
    operation times, the landing table's data files and the start of the
    timed operations."""
    from olap_db_spark.sources.generator import TERMS, generate_rankings

    rng = random.Random(run.seed)
    engine = run.engine
    tables = run.work / "tables"
    raw, log, cur = (str(tables / n) for n in ("raw", "ingest_log", "curated"))

    def batch(i: int):
        return generate_rankings(
            engine.spark, BATCH_ROWS, seed=run.seed * 1000 + i, n_partitions=run.cpus
        )

    def upsert(where: str):
        return engine.sql(
            f"UPSERT INTO '{cur}' PARTITION BY domain KEY (url) ORDER BY rank "
            f"SELECT {_COLUMNS} FROM parquet.`{raw}` WHERE {where}"
        ).collect()

    def delete(where: str):
        return engine.sql(f"DELETE FROM '{cur}' PARTITION BY domain WHERE {where}").collect()

    ops: dict[str, list[float]] = {k: [] for k in KINDS}

    def attempt(kind: str, fn, *args):
        try:
            return fn(*args)
        except Exception as ex:  # noqa: BLE001 - a failed operation is counted
            run.log(f"{kind} failed: {ex!r}"[:400])
            return ex

    def timed(kind: str, fn, *args):
        t0 = time.perf_counter()
        result = attempt(kind, fn, *args)
        ops[kind].append(time.perf_counter() - t0)
        return result

    since = time.perf_counter()
    for i in range(BATCHES):
        if run.tracer is not None:  # the generator alone, as a control
            with run.span("sources.generator.generate_rankings"):
                batch(i).write.mode("overwrite").format("noop").save()
        out.check(timed("ingest", engine.ingest, batch(i), raw, log, f"rankings-{i}") is True)
        out.check(timed("fresh", _count, engine, raw) == (i + 1) * BATCH_ROWS)
    for i in range(BATCHES):
        out.check(timed("replay", engine.ingest, batch(i), raw, log, f"rankings-{i}") is False)
    raw_files = [p for p in (tables / "raw").iterdir() if p.suffix == ".parquet"]

    # equal rank slices, together covering every url of the landing table
    cuts = [100 * k // UPSERTS for k in range(UPSERTS + 1)]
    for lo, hi in zip(cuts, cuts[1:]):
        timed("upsert", upsert, f"rank > {lo} AND rank <= {hi}")
    out.check(attempt("check", _url_rows, engine, cur) == (BATCH_ROWS, BATCH_ROWS))

    predicates = [f"term = '{t}' AND rank > 75" for t in rng.sample(TERMS, DELETES)]
    for pred in predicates:
        timed("delete", delete, pred)
    for pred in predicates:
        out.check(attempt("check", _count, engine, cur, pred) == 0)

    run.log(
        f"{BATCHES} batches of {BATCH_ROWS} rows; "
        + " ".join(f"{k}={[round(t, 3) for t in ts]}" for k, ts in ops.items())
    )
    return {"ops": ops, "raw_files": raw_files, "since": since}


def write_cycle_s(ops: dict[str, list[float]]) -> float:
    """One write cycle: the sum over kinds of the fastest warm call (other
    load on the host only ever adds time)."""
    return sum(min(ts[1:]) for ts in ops.values())


def writer_layers(tracer, result) -> dict[str, float]:
    """Write-path layers over the timed operations."""
    tracer.resolve()
    since = result["since"]
    w = "sources.writers"
    appends = tracer.named(f"{w}.idempotent_append", since)
    written = [s for s in appends if s.attrs.get("written") is True]
    skipped = [s for s in appends if s.attrs.get("written") is False]
    gen = tracer.named("sources.generator.generate_rankings")
    files = result["raw_files"]
    layers = {
        f"{w}.idempotent_append.p50_s": statistics.median(s.seconds for s in written),
        f"{w}.idempotent_append.jobs": statistics.median(s.jobs for s in written),
        f"{w}.idempotent_append.skip_p50_s": statistics.median(s.seconds for s in skipped),
        f"{w}.idempotent_append.skip_jobs": statistics.median(s.jobs for s in skipped),
        f"{w}.table_files": len(files),
        f"{w}.table_bytes_per_row": sum(p.stat().st_size for p in files)
        / (BATCHES * BATCH_ROWS),
        "sources.generator.generate_rankings.rows_per_s": BATCH_ROWS
        / statistics.median(s.seconds for s in gen),
    }
    for fn in ("upsert_partition_scoped", "delete_where"):
        spans = tracer.named(f"{w}.{fn}", since)
        layers[f"{w}.{fn}.p50_s"] = statistics.median(s.seconds for s in spans)
        layers[f"{w}.{fn}.jobs"] = statistics.median(s.jobs for s in spans)
    return layers

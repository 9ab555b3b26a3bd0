#!/usr/bin/env python3
"""Benchmark runner for olap_db_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md``): ``batch_queries`` and
``serve_ingest``. The run generates its input tables from
``--seed`` under a fresh directory inside the checkout, starts the engine in
this process with ``SPARK_GRAFT_CPUS`` pinned to the machine's CPU count,
measures for about ``--seconds`` seconds, checks every output, removes its
files and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Metric names and units come from ``BENCHMARK.json`` at the checkout root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from tracing import Tracer, install  # noqa: E402

WORKLOADS = ("batch_queries", "serve_ingest")
#: TPC-H scale of the generated tables (60,000 lineitem rows)
SCALE = 0.01
#: Spark heap; fixed so that set-up does not follow the host's free memory
SPARK_HEAP = "2g"


@dataclass
class Outcome:
    """What a workload reports: metric values by name, plus the count of
    checked operations and of those that failed or were wrong."""

    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


class Run:
    """One benchmark run: its seed, budget, directories and engine."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.work = work
        self.data = work / "data"
        self.cpus = len(os.sched_getaffinity(0))
        self.engine = None
        self._gateway_proc = None
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """Progress line on standard error, stamped with the run's age."""
        print(f"perfbench {time.perf_counter() - self._t0:7.2f}s: {msg}", file=sys.stderr)

    def span(self, name: str, **attrs):
        """A tracer span, or a no-op context in an untraced run."""
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, **attrs)

    def start_engine(self) -> float:
        """Cold start: import the engine, build the session, register the
        catalog and answer a first query. Returns the seconds it took."""
        t0 = time.perf_counter()
        from olap_db_spark.api import OlapEngine
        from olap_db_spark.session import get_spark

        if self.tracer is not None:
            install(self.tracer)
        with self.span("session.get_spark"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
        if self.tracer is not None:
            self.tracer.attach(spark.sparkContext)
        self.engine = OlapEngine(str(self.data), spark=spark)
        if not self.engine.is_alive():
            raise RuntimeError("engine failed its liveness query")
        return time.perf_counter() - t0

    def setup_layers(self) -> dict[str, float]:
        """Per-layer set-up times of a traced run."""
        return {
            f"{name}.s": sum(s.seconds for s in self.tracer.named(name))
            for name in ("session.get_spark", "catalog.register_views")
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.engine is None:
            return
        from pyspark import SparkContext

        self.engine.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        self.engine = None


def _pin_environment(work: Path, cpus: int) -> None:
    """Run Spark with one local worker thread per CPU, a fixed heap, and
    every scratch file inside ``work``. Executor Python workers see no
    path to ``olap_db_spark``: only this process adds it to ``sys.path``."""
    conf = work / "conf"
    tmp = work / "tmp"
    for d in (conf, tmp, work / "spark-local"):
        d.mkdir(parents=True)
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_SHM": "0",
            "SPARK_DRIVER_MEMORY": SPARK_HEAP,
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SPARK_CONF_DIR": str(conf),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        }
    )
    for var in ("PYTHONPATH", "SPARK_GRAFT_SF_DIR", "OLAP_HTTP_MAX_ROWS"):
        os.environ.pop(var, None)
    tempfile.tempdir = str(tmp)
    os.chdir(work)


def _metric_specs() -> tuple[dict[str, str], dict[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "olap_db_spark" / "api.py").is_file():
        print(f"perfbench: no olap_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    e2e_units, layer_units = _metric_specs()
    workload = importlib.import_module(args.workload)

    scratch = ROOT / ".perfbench_work"
    scratch.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch))
    cwd = os.getcwd()
    run = Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        _pin_environment(work, run.cpus)
        datagen.write_tables(run.data, args.seed, SCALE)
        try:
            out = workload.run(run)
        finally:
            run.stop()
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass

    unknown = set(out.per_layer) - set(layer_units)
    if set(out.end_to_end) != set(e2e_units) or unknown:
        raise RuntimeError(
            f"metrics {sorted(out.end_to_end)} / {sorted(unknown)} do not match"
            " BENCHMARK.json"
        )
    if args.trace:
        # a layer this workload never calls reads 0
        values = {name: out.per_layer.get(name, 0) for name in layer_units}
        units = layer_units
        # the traced run's own end-to-end figures, for the tracing overhead
        print("perfbench: traced end-to-end " + json.dumps(out.end_to_end), file=sys.stderr)
    else:
        values, units = out.end_to_end, e2e_units
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    name: {"value": values[name], "unit": units[name]}
                    for name in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""``serve_ingest``: the reference user's two entry points on one engine.

First the write phase (``ingesting.py``): DataFrame batches through the
idempotent append with a read-after-write count, replays, upserts and
deletes, while the HTTP server is not yet started. Then the serving phase
(``serving.py``): SQL over loopback HTTP, open loop then closed loop. The
operator library is idle throughout.

End-to-end metrics: ``work_s`` is one write cycle, the sum of the best
warm ingest, read-after-write count, replay, upsert and delete; ``p50_ms`` and
``p75_ms`` are the open-loop request latencies; ``qps`` is the best closed-loop
round's capacity.
"""

from __future__ import annotations

from ingesting import write_cycle_s, write_phase, writer_layers
from serving import Plan, serve_phase, server_layers
from stats import percentile


def run(run):
    from run import Outcome

    out = Outcome()
    plan = Plan(run)
    setup_s = run.start_engine()
    run.log(f"set up in {setup_s:.2f}s")
    writes = write_phase(run, out)
    serving = serve_phase(run, out, plan)

    out.end_to_end = {
        "setup_s": setup_s,
        "work_s": write_cycle_s(writes["ops"]),
        "p50_ms": percentile(serving["latency_ms"], 50),
        "p75_ms": percentile(serving["latency_ms"], 75),
        "qps": serving["capacity_qps"],
    }
    if run.tracer is not None:
        out.per_layer = run.setup_layers()
        out.per_layer.update(writer_layers(run.tracer, writes))
        out.per_layer.update(server_layers(run.tracer, serving))
    return out

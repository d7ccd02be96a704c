"""``batch_stream``: the engine without its service.

One process runs the batch phase (``wl_batch``: headline queries over
seeded tables, a cold pass checked against the DuckDB oracle, then
warm passes) and then the stream phase (``wl_stream``: correlator
drains and near-dup epochs).  Each phase measures for half of
``--seconds``, with at least two warm passes and three stream rounds.
Sharing the process shares the JVM, JIT and Python-worker start-up
that two separate runs would each pay.

End-to-end metrics of this workload:

* ``setup_s`` -- process start to a ready session, plus the median
  table-open step, the batch cold pass and the stream set-up;
* ``latency_p50_s`` -- the batch warm pass: the sum over queries of
  each query's median warm wall time;
* ``throughput_per_s`` -- the stream phase: the geometric mean of the
  correlator's matched pairs per second of drain time and the near-dup
  gate's docs per second of epoch time, so the two weigh equally.
"""

from __future__ import annotations

from perfbench import wl_batch, wl_stream


def run(ctx) -> None:
    batch = wl_batch.run(ctx)
    stream = wl_stream.run(ctx)
    ctx.e2e["setup_s"] = ctx.session_s + batch["setup_s"] + stream["setup_s"]
    ctx.e2e["latency_p50_s"] = batch["warm_s"]
    ctx.e2e["throughput_per_s"] = stream["rate_per_s"]

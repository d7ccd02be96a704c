"""``p1_sync``: the reference's own workload (EP1 polling).

Closed loop: ``CLIENTS`` threads each send ``POST /p1`` to an
``EngineHttpService`` over a started ``Engine`` and send the next
request when the terminal reply arrives.  A seeded one in ten of the
payloads trips a ``fail_if`` step and must come back ``400 FAILED``;
the rest must come back ``200 SUCCEEDED``.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.error
import urllib.request

from pyspark.sql import functions as F

from perfbench.stats import median, tail_percentile
from perfbench.tally import check_events

CLIENTS = 4
POISON_SHARE = 0.1
SETUPS = 3
STATE_DOC_SAMPLE = 2
#: replies each client gets before the measured window opens
RAMP_REPLIES = 1


def payloads(seed: int, client: int, n: int) -> list[tuple[str, bool]]:
    """``n`` seeded JSON bodies for one client, each with whether it is
    poisoned (carries the marker the faulted step matches on)."""
    rng = random.Random(seed * 1009 + client)
    out = []
    for k in range(n):
        body = {"client": client, "seq": k, "sku": f"{rng.getrandbits(48):012x}", "qty": rng.randint(1, 9)}
        poisoned = rng.random() < POISON_SHARE
        if poisoned:
            body["poison"] = True
        out.append((json.dumps(body), poisoned))
    return out


def expected_reply(poisoned: bool) -> tuple[int, str]:
    return (400, "FAILED") if poisoned else (200, "SUCCEEDED")


def post(port: int, body: str, timeout_s: float) -> tuple[int | None, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/p1", data=body.encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")
    except (urllib.error.URLError, OSError, ValueError) as e:
        return None, {"error": repr(e)}


def _dir_stats(path: str) -> tuple[int, int]:
    dirs = files_bytes = 0
    for root, ds, fs in os.walk(path):
        dirs += len(ds) if root == path else 0
        files_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
    return dirs, files_bytes


def run(ctx) -> None:
    from sfs3_kinesis_spark.engine import Engine
    from sfs3_kinesis_spark.http_service import REQUEST_BUDGET_S, EngineHttpService
    from sfs3_kinesis_spark.operators.pipeline import Step, reference_steps
    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink
    from sfs3_kinesis_spark.streaming.incremental import IncrementalPipeline

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    tr.wrap(Engine, "submit", "engine.submit")
    tr.wrap(Engine, "status", "engine.status")
    tr.wrap(Engine, "await_completion", "engine.await", inner="engine.status")
    tr.wrap(IncrementalPipeline, "process_batch", "microbatch.process_batch")
    tr.wrap(KeyedUpsertSink, "apply_batch", "sink.apply_batch")
    tr.wrap(KeyedUpsertSink, "_compact", "sink.compact")
    tr.wrap(KeyedUpsertSink, "current", "sink.current")

    steps = reference_steps()
    c = steps[2]
    steps[2] = Step(c.name, c.output_col, c.result, c.gate_on, fail_if=F.col("request").contains("poison"))
    reply_timeout = REQUEST_BUDGET_S + 30.0

    # set-up: SETUPS fresh engines started and bound to a listener;
    # the last one serves the run
    setup_times = []
    for i in range(SETUPS):
        t = time.perf_counter()
        eng = Engine(spark, os.path.join(ctx.work, f"engine{i}"), steps=steps)
        eng.start()
        svc = EngineHttpService(eng, request_budget_s=REQUEST_BUDGET_S)
        port = svc.start()
        setup_times.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            svc.stop()
            eng.stop()
    expected: dict[str, str] = {}
    try:
        # ramp: one request alone runs the first micro-batch, which
        # compiles the pipeline; then the clients start at once.  The
        # measured window opens when every client has had RAMP_REPLIES
        # replies and closes ``seconds`` later; only requests sent
        # inside it are timed, and every request sent is checked.
        t = time.perf_counter()
        code, reply = post(port, json.dumps({"warmup": 0}), reply_timeout)
        op = reply.get("txn_id", "warmup")
        tally.attempt(op)
        if (code, reply.get("status")) != expected_reply(False):
            tally.fail(op, f"warm-up reply {code} {reply}")
        if "txn_id" in reply:
            expected[reply["txn_id"]] = "SUCCEEDED"
        bodies = [payloads(ctx.seed, cl, 1_000) for cl in range(CLIENTS)]
        results: list[list] = [[] for _ in range(CLIENTS)]
        window = {"stop": float("inf")}

        def client(cl: int) -> None:
            for body, poisoned in bodies[cl]:
                if time.perf_counter() >= window["stop"]:
                    return
                ts = time.perf_counter()
                code, reply = post(port, body, reply_timeout)
                results[cl].append((ts, time.perf_counter(), code, reply, poisoned))

        threads = [threading.Thread(target=client, args=(cl,), daemon=True) for cl in range(CLIENTS)]
        for th in threads:
            th.start()
        while (
            min(len(rs) for rs in results) < RAMP_REPLIES
            and time.perf_counter() - t < (RAMP_REPLIES + 1) * reply_timeout
        ):
            time.sleep(0.01)
        t0 = time.perf_counter()
        warmup_s = t0 - t
        window["stop"] = t0 + ctx.seconds
        for th in threads:
            th.join(timeout=ctx.seconds + 2 * reply_timeout)
        t_end = time.perf_counter()
        hung = [th for th in threads if th.is_alive()]
        for n in range(len(hung)):
            tally.attempt(f"hung:{n}")
            tally.fail(f"hung:{n}", "client thread did not finish")

        latencies, reply_by_txn = [], {}
        per_client = [[0, 0.0] for _ in range(CLIENTS)]  # correct replies, their time
        for cl, rs in enumerate(results):
            for n, (ts, te, code, reply, poisoned) in enumerate(rs):
                op = reply.get("txn_id", f"req:{cl}:{n}")
                tally.attempt(op)
                want = expected_reply(poisoned)
                got = (code, reply.get("status"))
                if got != want:
                    tally.fail(op, f"reply {got} != {want}")
                if "txn_id" in reply:
                    expected[reply["txn_id"]] = want[1]
                if ts < t0:
                    continue
                latencies.append(te - ts)
                if "txn_id" in reply:
                    reply_by_txn[reply["txn_id"]] = te - ts
                if got == want:
                    per_client[cl][0] += 1
                    per_client[cl][1] += te - ts
        n_reqs = len(latencies)
        if not latencies:
            tally.attempt("window")
            tally.fail("window", "no request was sent inside the measured window")

        # exactly-once event log and a seeded sample of state documents
        t = time.perf_counter()
        ev = eng.events()
        rows = [] if ev is None else ev.select("txn_id", "status", "event_id").collect()
        ctx.layers["engine.events.read_s"] = time.perf_counter() - t
        check_events(tally, expected, [tuple(r) for r in rows])
        ok_txns = sorted(t for t, s in expected.items() if s == "SUCCEEDED")
        for txn in random.Random(ctx.seed).sample(ok_txns, min(STATE_DOC_SAMPLE, len(ok_txns))):
            doc = eng.state_document(txn) or {}
            arn = (doc.get("step_f_output") or {}).get("downstreamExecutionArn")
            if arn != f"downstream:{txn}":
                tally.fail(txn, f"state document downstreamExecutionArn {arn!r}")
    finally:
        svc.stop()
        eng.stop()

    ctx.e2e["setup_s"] = ctx.session_s + median(setup_times) + warmup_s
    ctx.e2e["latency_p50_s"] = median(latencies)
    # closed loop without think time: each client is always waiting
    # on a request, so its rate is its correct replies over its time
    ctx.e2e["throughput_per_s"] = sum(n / s for n, s in per_client if s > 0)
    L = ctx.layers
    L["engine.start_s"] = median(setup_times)
    L["warmup_s"] = warmup_s
    L["req.count"] = len(latencies)
    ctx.info["timeline"] = sorted((round(r[0] - t0, 2), round(r[1] - r[0], 2)) for rs in results for r in rs)
    tail = tail_percentile(latencies)
    L["req.tail_pct"] = tail["p"] if tail else 0
    L["req.tail_s"] = tail["value"] if tail else 0
    if tr.active:
        _layers(ctx, t0, t_end, n_reqs, reply_by_txn)


def _calls_summary(L: dict, prefix: str, calls) -> None:
    L[f"{prefix}.calls"] = len(calls)
    L[f"{prefix}.busy_s"] = sum(c.dur for c in calls)
    L[f"{prefix}.p50_s"] = median(c.dur for c in calls)
    L[f"{prefix}.jobs_per_call"] = sum(c.jobs for c in calls) / len(calls) if calls else 0


def _layers(ctx, t0: float, t_end: float, n_reqs: int, reply_by_txn: dict) -> None:
    tr, L = ctx.tracer, ctx.layers
    submits, statuses = tr.layer("engine.submit", t0, t_end), tr.layer("engine.status", t0, t_end)
    awaits = tr.layer("engine.await", t0, t_end)
    _calls_summary(L, "engine.submit", submits)
    _calls_summary(L, "engine.status", statuses)
    L["engine.status.hit_ratio"] = (
        sum(c.result is not None for c in statuses) / len(statuses) if statuses else 0
    )
    L["engine.polls_per_req"] = len(statuses) / len(awaits) if awaits else 0
    L["engine.await.p50_s"] = median(c.dur for c in awaits)
    busy = sum(c.dur for c in awaits)
    L["engine.await.sleep_share"] = (busy - sum(c.inner_s for c in awaits)) / busy if busy else 0
    submit_by_txn = {c.result: c.dur for c in submits}
    await_by_txn = {c.args[0]: c.dur for c in awaits if c.args}
    overhead = [
        rt - submit_by_txn[txn] - await_by_txn[txn]
        for txn, rt in reply_by_txn.items()
        if txn in submit_by_txn and txn in await_by_txn
    ]
    L["http.overhead_p50_s"] = median(overhead)
    reply_p50 = median(reply_by_txn.values())
    parts = L["engine.submit.p50_s"] + L["engine.await.p50_s"] + L["http.overhead_p50_s"]
    L["cover.p1"] = parts / reply_p50 if reply_p50 else 0

    batches = [p for p in tr.progress if t0 <= p.at < t_end and p.name is None and p.input_rows > 0]
    L["microbatch.count"] = len(batches)
    L["microbatch.req_per_batch"] = n_reqs / len(batches) if batches else 0
    L["microbatch.source_rows_per_batch"] = median(p.input_rows for p in batches)
    for phase in ("triggerExecution", "addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"):
        key = "trigger" if phase == "triggerExecution" else phase
        L[f"microbatch.{key}_p50_ms"] = median(p.duration_ms.get(phase, 0) for p in batches)
    L["microbatch.process_batch.busy_s"] = sum(c.dur for c in tr.layer("microbatch.process_batch", t0, t_end))
    applies = tr.layer("sink.apply_batch", t0, t_end)
    L["sink.apply_batch.calls"] = len(applies)
    L["sink.apply_batch.p50_s"] = median(c.dur for c in applies)
    L["sink.apply_batch.busy_s"] = sum(c.dur for c in applies)
    compacts = tr.layer("sink.compact", t0, t_end)
    L["sink.compactions"] = len(compacts)
    L["sink.compact_p50_s"] = median(c.dur for c in compacts)
    L["sink.current.calls"] = len(tr.layer("sink.current", t0, t_end))
    dirs, size = _dir_stats(os.path.join(ctx.work, f"engine{SETUPS - 1}", "state"))
    L["sink.state_dirs"] = dirs
    L["sink.state_bytes"] = size

"""Stream phase of ``batch_stream``: seeded fixed drains through two
stateful stream operators, with no HTTP and no poll.

One ``streaming.correlate`` query (EP2, the Kinesis-correlated
variant) runs for the whole phase over a watched directory.  A round
lands one file of request/event pairs, orphan events and requests that
must time out, and waits until the correlator has emitted a row for
each; then it runs one ``streaming.neardup`` epoch on a fresh index,
one doc in ten a planted near-duplicate of an earlier doc of the
epoch.  There are at least three rounds, and more until half the run
time is spent.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import time

from perfbench.stats import median

PAIRS, ORPHANS, TIMEOUTS = 800, 40, 40
MIN_ROUNDS = 3
DOCS_PER_EPOCH, DOC_TOKENS, DUP_EVERY = 400, 30, 10
DRAIN_DEADLINE_S = 60.0
TIMEOUT_MS = 300
T0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
SINK = "corr_out"


def correlate_inputs(rng: random.Random, tag: str, pairs: int, orphans: int, timeouts: int):
    """Request and event rows, and the outcome counts they must give:
    every paired request is matched, every orphan event stays an
    orphan, every unpaired request times out."""
    requests, events, ok = [], [], 0
    for i in range(pairs):
        txn = f"{tag}-p{i}"
        requests.append((txn, T0, 3_600_000))
        status = "FAILED" if rng.random() < 0.1 else "SUCCEEDED"
        ok += status == "SUCCEEDED"
        events.append((txn, status, T0 + dt.timedelta(milliseconds=rng.randint(1, 20_000))))
    for i in range(timeouts):
        requests.append((f"{tag}-t{i}", T0, TIMEOUT_MS))
    for i in range(orphans):
        events.append((f"{tag}-o{i}", "SUCCEEDED", T0 + dt.timedelta(seconds=1)))
    rng.shuffle(requests)
    rng.shuffle(events)
    want = {"matched": pairs, "orphan": orphans, "timeout": timeouts, "ok_200": ok}
    return requests, events, want


class Correlator:
    """One correlate query over a watched directory, into a memory sink."""

    def __init__(self, spark, work: str):
        from pyspark.sql import functions as F

        from sfs3_kinesis_spark.sources.sinks import run_stateful_to_memory
        from sfs3_kinesis_spark.sources.stream import file_stream
        from sfs3_kinesis_spark.streaming.correlate import correlate

        self.spark = spark
        self.dir = os.path.join(work, "corr_in")
        self.emitted = 0
        schema = "txn_id string, kind string, ts timestamp, status string, timeout_ms long"
        os.makedirs(self.dir)
        stream = file_stream(spark, self.dir, schema)
        out = correlate(
            stream.filter(F.col("kind") == "request").select("txn_id", F.col("ts").alias("submitted_at"), "timeout_ms"),
            stream.filter(F.col("kind") == "event").select("txn_id", "status", F.col("ts").alias("event_time")),
        )
        self.query = run_stateful_to_memory(out, SINK)

    def drain(self, rng, tag: str, pairs: int, orphans: int, timeouts: int) -> tuple[float, dict, dict]:
        """Land one round's file and wait for its rows.  Returns the
        drain time (file landed to last row visible) and the expected
        and observed outcome counts; the time is ``None`` when the
        deadline passed short of the target."""
        spark = self.spark
        requests, events, want = correlate_inputs(rng, tag, pairs, orphans, timeouts)
        self._land(tag, requests, events)
        target = self.emitted + pairs + orphans + timeouts
        t = time.perf_counter()
        n = 0
        while time.perf_counter() - t < DRAIN_DEADLINE_S:
            n = spark.sql(f"SELECT count(*) FROM {SINK}").collect()[0][0]
            if n >= target:
                break
            time.sleep(0.05)
        drain = time.perf_counter() - t
        self.emitted = n
        got = {"ok_200": 0}
        for r in spark.sql(
            f"SELECT outcome, count(*) AS n, count_if(outcome = 'matched' AND http_code = 200) AS ok "
            f"FROM {SINK} WHERE txn_id LIKE '{tag}-%' GROUP BY outcome"
        ).collect():
            got[r["outcome"]] = r["n"]
            got["ok_200"] += r["ok"]
        return (drain if n >= target else None), want, got

    def _land(self, tag: str, requests: list, events: list) -> None:
        """Write one input file in the stream's schema (requests, then
        events) beside the watched directory and rename it in, so the
        source never lists a half-written file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [(txn, "request", ts, None, ms) for txn, ts, ms in requests]
        rows += [(txn, "event", ts, status, None) for txn, status, ts in events]
        names = ("txn_id", "kind", "ts", "status", "timeout_ms")
        types = (pa.string(), pa.string(), pa.timestamp("us", tz="UTC"), pa.string(), pa.int64())
        table = pa.table({n: pa.array(col, t) for n, t, col in zip(names, types, zip(*rows))})
        staged = os.path.join(os.path.dirname(self.dir), f"corr_{tag}.parquet")
        pq.write_table(table, staged)
        os.replace(staged, os.path.join(self.dir, f"part-{tag}.parquet"))

    def stop(self) -> None:
        self.query.stop()


def neardup_docs(rng: random.Random, first_id: int, n: int, history: list[list[str]]) -> tuple[list, set]:
    """``n`` docs of random tokens; every ``DUP_EVERY``-th repeats an
    earlier doc's tokens plus one marker token (Jaccard of word
    3-grams 28/29).  ``history`` (all earlier token lists) grows in
    place.  Returns the rows and the planted doc ids."""
    rows, planted = [], set()
    for i in range(n):
        doc_id = first_id + i
        if history and i % DUP_EVERY == DUP_EVERY - 1:
            toks = list(history[rng.randrange(len(history))]) + [f"m{doc_id}"]
            planted.add(doc_id)
        else:
            toks = [str(rng.randrange(500_009)) for _ in range(DOC_TOKENS)]
        history.append(toks)
        rows.append((doc_id, " ".join(toks)))
    return rows, planted


def run(ctx) -> dict:
    """Run the phase for half the run time, at least three rounds.
    Fills ``ctx.layers`` and returns the set-up time and the geometric
    mean of two per-round medians: matched pairs per second of drain
    time, and docs per second of epoch time."""
    from sfs3_kinesis_spark.streaming.neardup import StreamingNearDup

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    tr.wrap(StreamingNearDup, "process_batch", "neardup.process_batch")
    rng = random.Random(ctx.seed)

    # set-up: start the correlator and drain a small file through it
    # (starts the pandas workers and compiles the stateful operator;
    # the batch phase before it compiled the shingle and MinHash
    # expressions the near-dup gate shares)
    t = time.perf_counter()
    corr = Correlator(spark, ctx.work)
    try:
        tally.attempt("corr:setup")
        d, want, got = corr.drain(rng, "s", 50, 5, 5)
        if d is None or got != want:
            tally.fail("corr:setup", f"set-up drain {got} != {want}")
        setup_s = time.perf_counter() - t

        drains, epochs, rounds, flagged, planted = [], [], [], {}, set()
        pair_rates = []
        t0 = time.perf_counter()
        epoch = 0
        while epoch < MIN_ROUNDS or time.perf_counter() - t0 < ctx.seconds / 2:
            op = f"corr:{epoch}"
            tally.attempt(op)
            d, want, got = corr.drain(rng, f"r{epoch}", PAIRS, ORPHANS, TIMEOUTS)
            if d is None:
                tally.fail(op, f"drain reached its {DRAIN_DEADLINE_S:.0f} s deadline short of its target")
                d, got = DRAIN_DEADLINE_S, None
            elif got != want:
                tally.fail(op, f"outcome counts {got} != {want}")
            # a failed drain is no rate
            pair_rates.append((PAIRS if got == want else 0) / d)
            drains.append(d)
            # each round's epoch runs on a fresh index: the first epoch
            # that probes a history compiles the history join path
            # (about 10 s on a 4-core host), which the run time cannot
            # hold, so every timed epoch is an empty-history epoch
            nd = StreamingNearDup(spark, os.path.join(ctx.work, f"nd{epoch}"))
            rows, new_planted = neardup_docs(rng, epoch * DOCS_PER_EPOCH, DOCS_PER_EPOCH, [])
            planted |= new_planted
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            tally.attempt(f"neardup:{epoch}")
            t = time.perf_counter()
            nd.process_batch(batch, 0)
            epochs.append(time.perf_counter() - t)
            rounds.append(d + epochs[-1])
            matches = nd.matches()
            if matches is not None:
                flagged.update((r["new_doc_id"], epoch) for r in matches.select("new_doc_id").collect())
            epoch += 1
    finally:
        corr.stop()

    for doc_id, ep in flagged.items():
        if doc_id not in planted:
            tally.fail(f"neardup:{ep}", f"doc {doc_id} flagged but not planted")
    for doc_id in planted - flagged.keys():
        tally.fail(f"neardup:{doc_id // DOCS_PER_EPOCH}", f"planted doc {doc_id} not flagged")

    L = ctx.layers
    L["stream.setup_s"] = setup_s
    L["stream.rounds"] = len(rounds)
    L["stream.round_p50_s"] = median(rounds)
    L["correlate.drain_s"] = median(drains)
    L["correlate.pairs_per_s"] = median(pair_rates)
    L["neardup.epoch_p50_s"] = median(epochs)
    L["neardup.docs_per_s"] = median(DOCS_PER_EPOCH / e for e in epochs)
    L["neardup.dup_recall"] = len(planted & flagged.keys()) / len(planted) if planted else 0
    L["neardup.false_dups"] = len(flagged.keys() - planted)
    ctx.info["stream_rounds"] = [[round(d, 3), round(e, 3)] for d, e in zip(drains, epochs)]
    if tr.active:
        _layers(ctx, t0)
    # the two operators weigh equally, whatever their share of the
    # round time: a slowdown by a factor k in either one lowers the
    # rate by a factor sqrt(k)
    rate = math.sqrt(L["correlate.pairs_per_s"] * L["neardup.docs_per_s"])
    return {"setup_s": setup_s, "rate_per_s": rate}


def _layers(ctx, t0: float) -> None:
    from sfs3_kinesis_spark.sources.stream import stream_from_batch

    tr, L, spark = ctx.tracer, ctx.layers, ctx.spark
    corr = [p for p in tr.progress if p.at >= t0 and p.name == SINK]
    busy = [p for p in corr if p.input_rows > 0]
    L["correlate.batches"] = len(busy)
    L["correlate.addBatch_p50_ms"] = median(p.duration_ms.get("addBatch", 0) for p in busy)
    L["correlate.state_rows_peak"] = max((p.state_rows for p in corr), default=0)
    L["correlate.state_bytes_peak"] = max((p.state_bytes for p in corr), default=0)
    epochs = tr.layer("neardup.process_batch", t0)
    L["neardup.jobs_per_epoch"] = sum(c.jobs for c in epochs) / len(epochs) if epochs else 0
    nd_root = os.path.join(ctx.work, f"nd{len(epochs) - 1}")
    L["neardup.index_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for sub in ("bands", "shingles")
        for r, _d, fs in os.walk(os.path.join(nd_root, sub))
        for f in fs
    )
    # the other two stateful trackers, per-layer only: one small drain
    # each, waiting for a key count that the input can reach
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.streaming.leaderboard import decayed_scores
    from sfs3_kinesis_spark.streaming.quantiles import latency_quantiles

    n_events, n_users = 5000, 200
    t0_s = F.unix_timestamp(F.lit(T0))
    inputs = {
        # the input shapes of bench.py's two drains
        "leaderboard": spark.range(n_events).select(
            (F.col("id") % n_users).alias("user_id"),
            (t0_s + (F.col("id") % 8) * 86400).cast("timestamp").alias("ts"),
            (F.col("id") % 97 / 10.0).alias("value"),
        ),
        "quantiles": spark.range(n_events).select(
            (F.col("id") % n_users).alias("user_id"),
            (t0_s + (F.col("id") / n_users).cast("long") * ((F.col("id") % 13) + 1)).cast("timestamp").alias("ts"),
        ),
    }
    for key, op in (("leaderboard", decayed_scores), ("quantiles", latency_quantiles)):
        stream = stream_from_batch(inputs[key], os.path.join(ctx.work, key))
        name = f"tr_{key}"
        t = time.perf_counter()
        q = op(stream).writeStream.format("memory").queryName(name).outputMode("append").start()
        try:
            n = 0
            while time.perf_counter() - t < DRAIN_DEADLINE_S:
                n = spark.sql(f"SELECT count(DISTINCT user_id) FROM {name}").collect()[0][0]
                if n >= n_users:
                    break
                time.sleep(0.05)
            el = time.perf_counter() - t
        finally:
            q.stop()
        ctx.tally.attempt(f"{key}:drain")
        if n < n_users:
            ctx.tally.fail(f"{key}:drain", f"got {n} of {n_users} keys in {el:.1f} s")
        L[f"{key}.events_per_s"] = n_events / el if n >= n_users else 0

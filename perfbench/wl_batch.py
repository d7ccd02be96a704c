"""Batch phase of ``batch_stream``: headline queries over seeded tables.

Cold pass: each query is built with ``QuerySpec.spark`` and collected
once, and its rows are compared with its DuckDB oracle twin
(``tests/oracle.py``).  Warm passes, the timed region of the
end-to-end metrics, then build each query again and fully
materialize it through the noop sink: at least two passes, and more until
half the run time is spent.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from perfbench import eventlog
from perfbench.fixtures import write_tables
from perfbench.stats import median

#: four of the eight costliest headline queries of the sf0.1 ledger,
#: one per operator family: relational joins, MinHash LSH, the
#: hash-keyed prefix-filter join and the pandas PNG codec (README.md
#: says why the other four are left out)
QUERIES = (
    "q05_regional_volume",
    "dedup_minhash_lsh",
    "similarity_join_prefix_filter",
    "multimodal_png_features",
)
SETUPS = 3


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_query(ctx, spec, data: str) -> tuple[float, float]:
    """One warm run: plan build, then noop materialization."""
    tr = ctx.tracer
    with tr.group("plans.build_warm"):
        t = time.perf_counter()
        df = spec.spark(ctx.spark, data)
        build = time.perf_counter() - t
    with tr.group("exec.run_warm"):
        t = time.perf_counter()
        materialize(df)
        run = time.perf_counter() - t
    ctx.spark.catalog.clearCache()
    return build, run


def _rows_only_problem(rows) -> str | None:
    """Invariants of the rows-only near-dup pair query."""
    if not rows:
        return "no near-duplicate pairs on a corpus with planted duplicates"
    for r in rows:
        if r["doc_a"] == r["doc_b"] or not 0.0 <= r["jaccard"] <= 1.0:
            return f"bad pair {tuple(r)}"
    return None


def run(ctx) -> dict:
    """Run the phase for half the run time.  Fills ``ctx.layers`` and
    returns the set-up time (median table-open step plus the cold pass)
    and the warm pass time (sum over queries of each query's median
    warm wall)."""
    import sfs3_kinesis_spark as pkg
    from sfs3_kinesis_spark.plans import REGISTRY
    from sfs3_kinesis_spark.sources.batch import load_table
    from tests.oracle import compare, duck_connection

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    data = os.path.join(ctx.work, "tables")
    write_tables(data, ctx.seed)

    # set-up: open every fixture table (parquet schema inference)
    setup_times = []
    for _ in range(SETUPS):
        with tr.group("plans.load"):
            t = time.perf_counter()
            for name in pkg.TABLES:
                load_table(spark, data, name).schema
            setup_times.append(time.perf_counter() - t)

    # cold pass: each query built and collected once, its rows
    # checked against the oracle twin (the check's DuckDB side is not
    # part of the cold time)
    con = duck_connection(data)
    cold: dict[str, float] = {}
    failed: set[str] = set()
    for name in QUERIES:
        tally.attempt(name)
        spec = REGISTRY[name]
        try:
            with tr.group("plans.build_cold"):
                t = time.perf_counter()
                df = spec.spark(spark, data)
                build = time.perf_counter() - t
            with tr.group("exec.run_cold"):
                if spec.oracle is None:
                    t = time.perf_counter()
                    problem = _rows_only_problem(df.collect())
                    collect = time.perf_counter() - t
                else:
                    timings: dict = {}
                    ok, detail = compare(df, con, spec.oracle, timings)
                    problem, collect = (None if ok else detail), timings.get("spark_s", 0.0)
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            problem, build, collect = f"cold run raised {e!r}", 0.0, 0.0
        cold[name] = build + collect
        if problem:
            tally.fail(name, f"oracle: {problem}"[:300])
            failed.add(name)
    con.close()

    warm: dict[str, list[tuple[float, float]]] = defaultdict(list)
    t0 = time.perf_counter()
    passes = 0
    while passes < 2 or time.perf_counter() - t0 < ctx.seconds / 2:
        for name in QUERIES:
            if name in failed:
                continue
            try:
                warm[name].append(_run_query(ctx, REGISTRY[name], data))
            except Exception as e:  # noqa: BLE001
                tally.fail(name, f"warm run raised {e!r}"[:300])
                failed.add(name)
        passes += 1
    warm_wall = time.perf_counter() - t0

    walls = {n: median(b + r for b, r in runs) for n, runs in warm.items()}
    n_exec = sum(len(runs) for runs in warm.values())
    batch_warm = sum(walls.values())
    L = ctx.layers
    L["plans.load_s"] = median(setup_times)
    L["batch.queries_per_s"] = n_exec / warm_wall if warm_wall > 0 else 0.0
    L["batch.warm_s"] = batch_warm
    L["batch.cold_s"] = sum(cold.values())
    L["batch.passes"] = passes
    build = sum(median(b for b, _ in runs) for runs in warm.values())
    execute = sum(median(r for _, r in runs) for runs in warm.values())
    L["plans.build_s"] = build
    L["exec.run_s"] = execute
    L["plans.build_share"] = build / (build + execute) if build + execute else 0
    L["cover.batch"] = (build + execute) / batch_warm if batch_warm else 0
    for name, runs in warm.items():
        L[f"q.{name}.build_s"] = median(b for b, _ in runs)
        L[f"q.{name}.run_s"] = median(r for _, r in runs)
    return {"setup_s": median(setup_times) + L["batch.cold_s"], "warm_s": batch_warm}


def event_log_layers(L: dict, groups: dict) -> None:
    """Per warm pass: build-time and execution jobs, stages, tasks and
    task metrics, from the event log's per-group totals.  Does nothing
    when the batch phase did not run."""
    passes = L.get("batch.passes")
    if not passes:
        return
    layers = eventlog.by_layer(groups)
    zero = dict.fromkeys(eventlog.FIELDS, 0)
    build, run = layers.get("plans.build_warm", zero), layers.get("exec.run_warm", zero)
    L["plans.build_jobs"] = build["jobs"] / passes
    L["plans.load_jobs"] = layers.get("plans.load", zero)["jobs"] / SETUPS
    for k in eventlog.FIELDS:
        L[f"exec.{k}"] = run[k] / passes

"""registry_slice: four fixed registry queries, each run cold with
``bench.py``'s settings (4 MiB splits; clearCache + release_caches +
gc.collect after every query, outside the timed region), on seeded
tables with the testdata schemas.  The seed generates the tables; the
query order is fixed, so the JIT cost left after the warm-up lands on the
same query every run.

Two queries are construction-heavy (Spark jobs run while the plan is
built) and two execution-heavy, so an optimisation of plan
construction moves the first half and leaves the second alone, and vice
versa.  Every output is compared with its DuckDB oracle under the
registry's strict comparator after the cycles, outside the timing.
"""

from __future__ import annotations

import gc
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import controls as ctl
from layers import SLICE_QUERIES, blank, engine, median

def _release(spark) -> None:
    """bench.py's per-query drain: pinned caches, tracked persists,
    trained-artifact memos and unreferenced checkpoints."""
    from tracker_trainer_spark.queries import release_caches

    spark.catalog.clearCache()
    release_caches()
    gc.collect()


def setup(run):
    from tracker_trainer_spark.queries import QUERIES
    from tracker_trainer_spark.session import warm_python_workers

    with run.phase("session"):
        spark = run.start_spark(
            {"spark.sql.files.maxPartitionBytes": "4194304"})
    with run.phase("inputs"):
        tables = ctl.registry_inputs(run)
    with run.phase("warm_up"):
        # the Python worker pool and the first of bench.py's warm-up
        # queries, side by side: one is import-bound, the other JVM-bound
        with ThreadPoolExecutor(1) as pool:
            workers = pool.submit(warm_python_workers, spark)
            QUERIES["events_type_stats"](spark, tables).toPandas()
            workers.result()
        _release(spark)
    return {"tables": tables, "order": list(SLICE_QUERIES), "outputs": []}


def cycle(run, state, i: int) -> dict:
    from tracker_trainer_spark.queries import QUERIES

    spark, tr = run.spark, run.tracer
    walls, outputs = {}, {}
    for q in state["order"]:
        t0 = time.perf_counter()
        with tr.span(f"queries.{q}.build"):
            df = QUERIES[q](spark, state["tables"])
        with tr.span(f"queries.{q}.exec"):
            outputs[q] = df.toPandas()
        walls[q] = time.perf_counter() - t0
        del df
        _release(spark)
    state["outputs"].append(outputs)
    total = sum(walls.values())
    return {"registry_total_s": total, "query_s": walls}


def finish(run, state, cycles) -> dict:
    """Controls, then the deferred oracle checks of every cycle."""
    measured, oracles = ctl.measure(run)
    for i, outputs in enumerate(state["outputs"]):
        for q in state["order"]:
            run.op(f"{q}[{i}]", checks.oracle(q, outputs[q], oracles[q]))
    return measured


def summary(run, state, cycles) -> dict:
    return {"registry_total_s": median(c["registry_total_s"] for c in cycles)}


def per_layer(run, state, cycles, info, controls) -> dict:
    m = blank()
    m.update(info)
    m.update(controls)
    m.update(engine(run.tracer, run.cores))
    tr, n = run.tracer, len(cycles)
    for q in SLICE_QUERIES:
        b, e = f"queries.{q}.build", f"queries.{q}.exec"
        m[f"{b}_s"] = tr.total(b) / n
        m[f"{b}_jobs"] = tr.total(b, "jobs") / n
        m[f"{e}_s"] = tr.total(e) / n
        m[f"{e}_jobs"] = tr.total(e, "jobs") / n
        m[f"queries.{q}.fetch_s"] = (tr.total(e) - tr.total(e, "job_s")) / n
        for f in ("build_s", "build_jobs", "exec_s", "exec_jobs", "fetch_s"):
            m[f"queries.{f}"] += m[f"queries.{q}.{f}"]
    return m

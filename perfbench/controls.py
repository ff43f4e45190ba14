"""Noise controls recorded beside every run's metrics, never gated: the
registry slice's DuckDB oracles on the same thread budget, and the
Spark job floor (best of five region scans → hash agg → Arrow fetch,
the probe bench.py uses).  Both expose co-tenant load on a shared box."""

from __future__ import annotations

import os
import time

import gen
from layers import SLICE_QUERIES

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SLICE_SCALE = 0.01


def registry_inputs(run) -> str:
    """The slice's tables for this seed, generated once per run."""
    out = run.path("tables")
    if not os.path.isdir(out):
        gen.registry_tables(out, run.seed, SLICE_SCALE)
    return out


def duckdb_oracles(tables_dir: str, threads: int) -> tuple[dict, float]:
    """Each slice query's oracle result and the summed DuckDB time."""
    import duckdb

    from tracker_trainer_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        out, total = {}, 0.0
        for name in SLICE_QUERIES:
            t0 = time.perf_counter()
            out[name] = con.execute(ORACLES[name]).df()
            total += time.perf_counter() - t0
        return out, total
    finally:
        con.close()


def job_floor(spark, tables_dir: str) -> float:
    from pyspark.sql import functions as F

    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        (spark.read.parquet(f"{tables_dir}/region.parquet")
         .groupBy("r_regionkey").agg(F.count(F.lit(1)).alias("n")).toPandas())
        runs.append(time.perf_counter() - t0)
    return min(runs)


def measure(run) -> tuple[dict, dict]:
    """(controls, oracle results) for this run."""
    tables = registry_inputs(run)
    oracles, duck_s = duckdb_oracles(tables, run.cores)
    return ({"control.duckdb_s": duck_s,
             "control.job_floor_s": job_floor(run.spark, tables)}, oracles)

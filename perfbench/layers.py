"""Per-layer metric names (the traced run's report) and the helpers that
derive them from spans.  Every traced run reports every name; a layer
the workload does not exercise reads 0 (no work done there)."""

from __future__ import annotations

import statistics

# in run order, construction-heavy (Spark jobs run while the plan is
# built) alternating with execution-heavy (the returned plan does the work)
SLICE_QUERIES = (
    "train_encode_events",
    "q21_sole_returned_supplier",
    "doc_centrality_pagerank",
    "q9_product_profit",
)

# samples that must lie beyond the reported batch-time tail percentile
TAIL_BEYOND = 10

_QUERY_FIELDS = (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"),
                 ("exec_jobs", "count"), ("fetch_s", "s"))

PER_LAYER = (
    # whole-stage figures, the untraced run prints them as `info`
    ("ingest_batch_p50_s", "s"),
    ("ingest_batch_tail_s", "s"),
    ("ingest_batch_tail_pct", "%"),
    ("ingest_records_per_s", "1/s"),
    ("groom_s", "s"),
    ("train_s", "s"),
    ("score_records_per_s", "1/s"),
    ("registry_total_s", "s"),
    ("failed_ops_share", "ratio"),
    ("trace.cycle_s", "s"),
    # streaming.ingest_stream
    ("streaming.ingest_stream.batches", "count"),
    ("streaming.ingest_stream.add_batch_s", "s"),
    ("streaming.ingest_stream.commit_overhead_s", "s"),
    ("streaming.ingest_stream.tasks_per_batch", "count"),
    # ingest.reader / ingest.validate
    ("ingest.reader.self_s", "s"),
    ("ingest.reader.records", "count"),
    ("ingest.validate.self_s", "s"),
    ("ingest.validate.invalid", "count"),
    ("ingest.validate.histogram_s", "s"),
    # ingest.project + ingest.merge / ingest.sink
    ("ingest.project.self_s", "s"),
    ("ingest.merge.self_s", "s"),
    ("ingest.merge.rows_out", "count"),
    ("ingest.merge.shuffle_bytes", "B"),
    ("ingest.sink.write_s", "s"),
    ("ingest.sink.files_written", "count"),
    # ingest.groom
    ("ingest.groom.plan_s", "s"),
    ("ingest.groom.rewrite_s", "s"),
    ("ingest.groom.verify_s", "s"),
    ("ingest.groom.partitions_total", "count"),
    ("ingest.groom.partitions_rewritten", "count"),
    ("ingest.groom.repair_ratio", "ratio"),
    ("ingest.groom.jobs", "count"),
    # trainer
    ("trainer.loader.self_s", "s"),
    ("trainer.loader.rows", "count"),
    ("trainer.selection.self_s", "s"),
    ("trainer.string_tables.self_s", "s"),
    ("trainer.encode.self_s", "s"),
    ("trainer.weights.self_s", "s"),
    ("trainer.train.phase1_s", "s"),
    ("trainer.train.phase2_s", "s"),
    ("trainer.train.phase1_trees", "count"),
    ("trainer.train.phase2_trees", "count"),
    ("trainer.train.phase1_jobs", "count"),
    ("trainer.train.phase2_jobs", "count"),
    ("trainer.artifacts.save_s", "s"),
    ("trainer.scoring.score_s", "s"),
    ("trainer.scoring.rank_s", "s"),
    ("trainer.scoring.rows", "count"),
    # queries* + functions.*: the slice total, then each query
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.exec_s", "s"),
    ("queries.exec_jobs", "count"),
    ("queries.fetch_s", "s"),
    *((f"queries.{q}.{f}", u) for q in SLICE_QUERIES for f, u in _QUERY_FIELDS),
    # Spark engine, over the measured cycles
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.input_bytes", "B"),
    ("spark.core_busy_share", "ratio"),
    # noise controls, never gated
    ("control.duckdb_s", "s"),
    ("control.job_floor_s", "s"),
)


def blank() -> dict:
    return {name: 0.0 for name, _ in PER_LAYER}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples: list[float]):
    """Highest percentile with at least ``TAIL_BEYOND`` samples above it,
    as (percentile, value); None when there are too few samples."""
    xs = sorted(samples)
    k = len(xs) - TAIL_BEYOND - 1
    if k < 0:
        return None
    return 100.0 * (k + 1) / len(xs), xs[k]


def engine(tracer, cores: int) -> dict:
    """spark.* over every measured cycle span."""
    cycles = tracer.find("cycle")
    wall = sum(s.duration for s in cycles)
    tot = lambda k: sum(s.counts.get(k, 0.0) for s in cycles)  # noqa: E731
    out = {f"spark.{k}": tot(k) for k in
           ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "input_bytes")}
    out["spark.core_busy_share"] = (
        out["spark.executor_run_s"] / (wall * cores) if wall else 0.0)
    out["trace.cycle_s"] = median(s.duration for s in cycles)
    return out

"""pipeline: the bandit pipeline end to end — streaming ingest of gzipped
JSONL Firehose files (one file per micro-batch, as ``scripts/ingest_job.py
--streaming``), groom (``scripts/groom_job.py``), the train job's
two-phase sequence on the groomed timeline (``scripts/train_job.py``),
then batch scoring and ranking of a candidate set.

Set-up: session, the seeded source files and candidates, and a throwaway
warm-up drain of a small file overlapped with the Python worker warm-up
(the production stream is long-running, so its first-batch JIT cost is
not a per-batch cost).  Groom and the trainer are not warmed: their
production jobs start a fresh process every cycle.  Each cycle drains the
same files into a fresh timeline, checkpoint and artifact directory.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import checks
import controls as ctl
import gen
from layers import blank, engine, median, tail_percentile

N_FILES = 2
RECORDS_PER_FILE = 10_000
WARM_RECORDS = 1_000
# GBT budget per phase, through train_*_model's public arguments.  The
# fallback backend's wall is rounds x depth levels x the Spark job floor;
# the reference budget (40 / 150 rounds, depth 6) runs for minutes per
# phase on four cores, beyond one benchmark run.  A second round never
# survived Spark's validation stop here (tolerance 0.01 after a first
# full-weight tree), so one round is the same model for less time.
NUM_ROUNDS = 1
MAX_DEPTH = 2
CANDIDATE_DECISIONS = 1_000
NOW_TS = 1_706_745_600.0    # pinned scoring time, after every decision
DECOMPOSED_FILES = 1        # traced run: files split layer by layer


def _start(run, source: str, timeline: str, checkpoint: str):
    """Start one availableNow drain; returns (query, invalid histogram),
    the histogram filling in as batches complete."""
    from tracker_trainer_spark.streaming import start_timeline_stream

    hist: dict[str, int] = {}
    lock = threading.Lock()

    def on_invalid(h):  # called from the stream's batch thread
        with lock:
            for reason, n in h.items():
                hist[reason] = hist.get(reason, 0) + int(n)

    q = start_timeline_stream(run.spark, source, timeline, checkpoint,
                              available_now=True, max_files_per_trigger=1,
                              on_invalid=on_invalid)
    return q, hist


def _drain(run, source: str, timeline: str, checkpoint: str):
    """One availableNow drain to completion; returns (query, histogram)."""
    q, hist = _start(run, source, timeline, checkpoint)
    q.awaitTermination()
    return q, hist


def setup(run):
    from tracker_trainer_spark.session import warm_python_workers

    with run.phase("session"):
        run.start_spark()
    with run.phase("inputs"):
        stream = gen.track_stream(run.path("source"), run.seed, N_FILES,
                                  RECORDS_PER_FILE)
        gen.track_stream(run.path("warm-source"), run.seed + 7919, 1,
                         WARM_RECORDS, first_day=N_FILES + 30)
        cands = run.path("candidates.parquet")
        n_cands = gen.candidates(cands, run.seed, CANDIDATE_DECISIONS)
    with run.phase("warm_drain"):
        # the warm-up drain runs one task; the worker warm-up fills the
        # other cores meanwhile
        q = _start(run, run.path("warm-source"), run.path("warm-tl"),
                   run.path("warm-ck"))[0]
        warm_python_workers(run.spark)
        q.awaitTermination()
    return {"stream": stream, "candidates": cands, "n_candidates": n_cands}


def _timeline_stats(spark, path: str):
    """(rows, distinct (model, dt, decision_id) keys, reward total)."""
    from pyspark.sql import functions as F

    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("model", "dt", "decision_id").alias("keys"),
        F.sum("reward").alias("reward")).first()
    return int(row["rows"]), int(row["keys"]), float(row["reward"] or 0.0)


def n_trees(model) -> int:
    if hasattr(model, "getNumTrees"):   # pyspark.ml GBT fallback
        return int(model.getNumTrees)
    return int(model.get_booster().num_boosted_rounds())  # xgboost


@contextmanager
def _groom_plans(tr, plans: list):
    """While tracing, time groom's own call to ``plan_groom`` as the span
    ``ingest.groom.plan`` and keep the plan it returns, so the traced
    groom does exactly the untraced groom's work."""
    from tracker_trainer_spark.ingest import groom as groom_mod

    if not tr.enabled:
        yield
        return
    plan_groom = groom_mod.plan_groom

    def traced(*args, **kwargs):
        with tr.span("ingest.groom.plan"):
            plan = plan_groom(*args, **kwargs)
        plans.append(plan)
        return plan

    groom_mod.plan_groom = traced
    try:
        yield
    finally:
        groom_mod.plan_groom = plan_groom


def _ingest(run, stream, i: int, tl: str) -> dict:
    """Drain, then groom + verify; checks the drain (the groomed timeline
    is checked in ``finish``, outside the timing)."""
    from tracker_trainer_spark.ingest.groom import (
        assert_no_duplicate_keys, groom)

    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("streaming.ingest_stream"):
        q, hist = _drain(run, run.path("source"), tl, run.path(f"ck-{i}"))
    drain_s = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    run.op(f"drain[{i}]", checks.ingest_drain(hist, stream.invalid))

    plans: list = []
    t0 = time.perf_counter()
    with tr.span("ingest.groom"):
        with tr.span("ingest.groom.call"), _groom_plans(tr, plans):
            groomed = groom(run.spark, tl)
        with tr.span("ingest.groom.verify"):
            assert_no_duplicate_keys(run.spark, tl)
    groom_s = time.perf_counter() - t0
    return {
        "drain_s": drain_s,
        "ingest_records_per_s": stream.records / drain_s,
        "groom_s": groom_s,
        "groomed": groomed,
        "batch_s": [p.durationMs["triggerExecution"] / 1e3 for p in progress],
        "add_batch_s": [p.durationMs.get("addBatch", 0) / 1e3 for p in progress],
        "plan": [{"total": p.total_partitions,
                  "dup_dirty": sum(r["n_rows"] > r["n_ids"] for r in p.dirty)}
                 for p in plans],
    }


def _train_score(run, state, i: int, tl: str) -> dict:
    """train_job.py's sequence with a fresh checkpoint dir, then
    score_items and rank_items; checks all four."""
    from tracker_trainer_spark.trainer.artifacts import (
        load_checkpoint_if_fresh, publish_model, save_model)
    from tracker_trainer_spark.trainer.scoring import rank_items, score_items
    from tracker_trainer_spark.trainer.train import (
        train_decision_model, train_propensity_model)

    spark, tr, seed = run.spark, run.tracer, run.seed
    out = run.path(f"artifacts-{i}")
    ckpt, dec_dir = os.path.join(out, "propensity"), os.path.join(out, "decision")
    budget = {"num_rounds": NUM_ROUNDS, "max_depth": MAX_DEPTH}
    t0 = time.perf_counter()
    with tr.span("trainer.train.phase1"):
        prop = load_checkpoint_if_fresh(spark, ckpt, 24 * 3600.0,
                                        model_name="model", model_seed=seed)
        if prop is None:
            prop = train_propensity_model(spark, tl, seed, **budget)
    with tr.span("trainer.artifacts.save"):
        save_model(prop, ckpt, model_name="model")
    with tr.span("trainer.train.phase2"):
        dec = train_decision_model(spark, tl, prop, seed, **budget)
    with tr.span("trainer.artifacts.save"):
        save_model(dec, dec_dir, model_name="model")
        publish_model(dec_dir, out, "model")
    train_s = time.perf_counter() - t0
    trees = (n_trees(prop.model), n_trees(dec.model))
    run.op(f"phase1[{i}]", checks.model("phase 1", trees[0], prop.feature_names))
    run.op(f"phase2[{i}]", checks.model("phase 2", trees[1], dec.feature_names))

    cands = spark.read.parquet(state["candidates"])
    t0 = time.perf_counter()
    with tr.span("trainer.scoring.score"):
        scored = score_items(dec, cands, now_ts=NOW_TS).toPandas()
    with tr.span("trainer.scoring.rank"):
        ranked = rank_items(dec, cands, "decision_id", now_ts=NOW_TS).toPandas()
    score_s = time.perf_counter() - t0
    run.op(f"score[{i}]", checks.scores(scored, state["n_candidates"]))
    run.op(f"rank[{i}]", checks.ranking(ranked, scored))
    return {"train_s": train_s, "score_s": score_s,
            "score_records_per_s": state["n_candidates"] / score_s,
            "trees": trees, "scored_rows": len(scored)}


def cycle(run, state, i: int) -> dict:
    tl = run.path(f"tl-{i}")
    state["timeline"] = tl  # the traced run's trainer split reads it
    fig = _ingest(run, state["stream"], i, tl)
    fig.update(_train_score(run, state, i, tl))
    return fig


def finish(run, state, cycles) -> dict:
    """Controls, then the deferred check of every groomed timeline."""
    stream = state["stream"]
    for i, c in enumerate(cycles):
        rows, keys, reward = _timeline_stats(run.spark, run.path(f"tl-{i}"))
        run.op(f"groom[{i}]", checks.ingest_groom(
            rows, keys, reward, stream.decisions, stream.reward_mass,
            c["groomed"]))
    return ctl.measure(run)[0]


def summary(run, state, cycles) -> dict:
    batches = [b for c in cycles for b in c["batch_s"]]
    tail = tail_percentile(batches)
    return {
        "ingest_batch_p50_s": median(batches),
        # too few batches for a percentile with ten beyond: the maximum
        "ingest_batch_tail_pct": tail[0] if tail else 100.0,
        "ingest_batch_tail_s": tail[1] if tail else max(batches),
        "ingest_records_per_s": median(c["ingest_records_per_s"] for c in cycles),
        "groom_s": median(c["groom_s"] for c in cycles),
        "train_s": median(c["train_s"] for c in cycles),
        "score_records_per_s": median(c["score_records_per_s"] for c in cycles),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _decompose_ingest(run, files: list[str]) -> list[dict]:
    """Split micro-batch work by layer: materialise successive prefixes of
    the batch chain (the same public operators merge_micro_batch runs)
    with the noop writer and difference them."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tracker_trainer_spark.ingest.merge import (
        finalize_for_storage, merge_rewarded_decisions)
    from tracker_trainer_spark.ingest.project import to_rewarded_decisions
    from tracker_trainer_spark.ingest.reader import (
        parse_track_records, read_track_lines)
    from tracker_trainer_spark.ingest.sink import write_timeline
    from tracker_trainer_spark.ingest.validate import (
        invalid_record_histogram, split_valid)

    tr, spark, out = run.tracer, run.spark, []
    for n, f in enumerate(files):
        now = time.time()
        parsed = parse_track_records(read_track_lines(spark, f))
        obs_in, obs_out = Observation(), Observation()
        with tr.span("ingest.reader.prefix") as s_read:
            _noop(parsed.observe(obs_in, F.count(F.lit(1)).alias("n")))
        valid, _ = split_valid(parsed, now_ts=now)
        with tr.span("ingest.validate.prefix") as s_valid:
            _noop(valid)
        with tr.span("ingest.validate.histogram") as s_hist:
            hist = invalid_record_histogram(parsed, now_ts=now).collect()
        rd = to_rewarded_decisions(valid)
        with tr.span("ingest.project.prefix") as s_proj:
            _noop(rd)
        merged = merge_rewarded_decisions(rd, group_cols=("model", "decision_id"))
        with tr.span("ingest.merge.prefix") as s_merge:
            _noop(merged.observe(obs_out, F.count(F.lit(1)).alias("n")))
        sink = run.path(f"decomposed-{n}")
        with tr.span("ingest.sink.prefix") as s_sink:
            write_timeline(finalize_for_storage(merged), sink)
        files_written = sum(name.endswith(".parquet")
                            for _, _, names in os.walk(sink) for name in names)
        out.append({
            "reader_s": s_read.duration,
            "records": obs_in.get["n"],
            "validate_s": s_valid.duration - s_read.duration,
            "invalid": sum(r["count"] for r in hist),
            "histogram_s": s_hist.duration,
            "project_s": s_proj.duration - s_valid.duration,
            "merge_s": s_merge.duration - s_proj.duration,
            "rows_out": obs_out.get["n"],
            "shuffle_bytes": s_merge.counts["shuffle_write_bytes"],
            "write_s": s_sink.duration - s_merge.duration,
            "files_written": files_written,
        })
    return out


def _decompose_trainer(run, state) -> dict:
    """Phase-1 work split by trainer module: the benchmark calls the same
    public functions train_propensity_model chains, materialising each
    lazy prefix with the noop writer and differencing."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tracker_trainer_spark.trainer.encode import (
        encode_to_vectors, propensity_training_rows)
    from tracker_trainer_spark.trainer.loader import load_training_frame
    from tracker_trainer_spark.trainer.selection import (
        MAX_FEATURES, select_features)
    from tracker_trainer_spark.trainer.string_tables import (
        build_string_tables, string_stats)
    from tracker_trainer_spark.trainer.weights import (
        EXPLORE_SAMPLE, zero_truncated_poisson, znormalize_reward)

    spark, tr, tl, seed = run.spark, run.tracer, state["timeline"], run.seed
    obs = Observation()
    df = load_training_frame(
        spark, tl, columns=["decision_id", "item", "context", "sample", "count"],
        sample=EXPLORE_SAMPLE, seed=seed)
    with tr.span("trainer.loader.prefix") as s_load:
        _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    rows = propensity_training_rows(df)
    with tr.span("trainer.encode.rows_prefix") as s_rows:
        _noop(rows)
    with tr.span("trainer.selection") as s_sel:
        selected = select_features(rows, MAX_FEATURES)
    with tr.span("trainer.string_tables") as s_tab:
        tables = build_string_tables(string_stats(rows), seed,
                                     allowed_features=selected,
                                     prior_mean=0.0, prior_count=0)
    with tr.span("trainer.encode.prefix") as s_enc:
        _noop(encode_to_vectors(rows, selected, tables, seed))
    rewards = load_training_frame(spark, tl, columns=["decision_id", "reward"],
                                  sample=EXPLORE_SAMPLE, seed=seed)
    with tr.span("trainer.weights.base") as s_base:
        _noop(rewards)
    with tr.span("trainer.weights.prefix") as s_w:
        _noop(rewards.withColumn("y", znormalize_reward(rewards, "reward"))
              .withColumn("w", zero_truncated_poisson(seed)))
    return {
        "trainer.loader.self_s": s_load.duration,
        "trainer.loader.rows": obs.get["n"],
        "trainer.selection.self_s": s_sel.duration - s_rows.duration,
        "trainer.string_tables.self_s": s_tab.duration - s_rows.duration,
        "trainer.encode.self_s": s_enc.duration - s_load.duration,
        "trainer.weights.self_s": s_w.duration - s_base.duration,
    }


def per_layer(run, state, cycles, info, controls) -> dict:
    m = blank()
    m.update(info)
    m.update(controls)
    m.update(engine(run.tracer, run.cores))
    tr, n = run.tracer, len(cycles)
    n_batches = sum(len(c["batch_s"]) for c in cycles)
    m["streaming.ingest_stream.batches"] = n_batches / n
    m["streaming.ingest_stream.add_batch_s"] = median(
        a for c in cycles for a in c["add_batch_s"])
    m["streaming.ingest_stream.commit_overhead_s"] = median(
        b - a for c in cycles for b, a in zip(c["batch_s"], c["add_batch_s"]))
    m["streaming.ingest_stream.tasks_per_batch"] = (
        tr.total("streaming.ingest_stream", "tasks") / max(n_batches, 1))

    # groom's own planning, and the rest of the groom call around it
    plans = [p for c in cycles for p in c["plan"]]
    plan_s = [s.duration for s in tr.find("ingest.groom.plan")]
    rewritten = sum(c["groomed"] for c in cycles)
    m["ingest.groom.plan_s"] = median(plan_s)
    m["ingest.groom.rewrite_s"] = (tr.total("ingest.groom.call") - sum(plan_s)) / n
    m["ingest.groom.verify_s"] = median(s.duration for s in tr.find("ingest.groom.verify"))
    m["ingest.groom.partitions_total"] = median(p["total"] for p in plans)
    m["ingest.groom.partitions_rewritten"] = rewritten / n
    m["ingest.groom.repair_ratio"] = (
        sum(p["dup_dirty"] for p in plans) / rewritten if rewritten else 0.0)
    m["ingest.groom.jobs"] = tr.total("ingest.groom", "jobs") / n

    m["trainer.train.phase1_s"] = median(s.duration for s in tr.find("trainer.train.phase1"))
    m["trainer.train.phase2_s"] = median(s.duration for s in tr.find("trainer.train.phase2"))
    m["trainer.train.phase1_jobs"] = tr.total("trainer.train.phase1", "jobs") / n
    m["trainer.train.phase2_jobs"] = tr.total("trainer.train.phase2", "jobs") / n
    m["trainer.train.phase1_trees"] = median(c["trees"][0] for c in cycles)
    m["trainer.train.phase2_trees"] = median(c["trees"][1] for c in cycles)
    m["trainer.artifacts.save_s"] = tr.total("trainer.artifacts.save") / n
    m["trainer.scoring.score_s"] = median(s.duration for s in tr.find("trainer.scoring.score"))
    m["trainer.scoring.rank_s"] = median(s.duration for s in tr.find("trainer.scoring.rank"))
    m["trainer.scoring.rows"] = median(c["scored_rows"] for c in cycles)

    parts = _decompose_ingest(run, state["stream"].files[:DECOMPOSED_FILES])
    for key, name in (("reader_s", "ingest.reader.self_s"),
                      ("records", "ingest.reader.records"),
                      ("validate_s", "ingest.validate.self_s"),
                      ("invalid", "ingest.validate.invalid"),
                      ("histogram_s", "ingest.validate.histogram_s"),
                      ("project_s", "ingest.project.self_s"),
                      ("merge_s", "ingest.merge.self_s"),
                      ("rows_out", "ingest.merge.rows_out"),
                      ("shuffle_bytes", "ingest.merge.shuffle_bytes"),
                      ("write_s", "ingest.sink.write_s"),
                      ("files_written", "ingest.sink.files_written")):
        m[name] = median(p[key] for p in parts)
    m.update(_decompose_trainer(run, state))
    return m

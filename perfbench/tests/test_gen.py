"""Generators: the seed alone fixes the inputs, and the planted facts the
checks compare against agree with an independent read of the files."""

import gzip
import json
import os
from pathlib import Path

import gen


def _bytes(d):
    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


def _make(root, seed):
    track = os.path.join(root, "track")
    tables = os.path.join(root, "tables")
    facts = gen.track_stream(track, seed, n_files=2, records_per_file=2_000)
    gen.registry_tables(tables, seed, scale=0.001)
    gen.candidates(os.path.join(root, "cands.parquet"), seed, 50)
    out = {**_bytes(track), **_bytes(tables)}
    out["cands"] = Path(root, "cands.parquet").read_bytes()
    return facts, out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    fa, a = _make(tmp_path / "a", 5)
    fb, b = _make(tmp_path / "b", 5)
    assert a == b
    fa.files = fb.files = None  # paths differ by directory only
    assert fa == fb


def test_different_seed_gives_different_inputs(tmp_path):
    _, a = _make(tmp_path / "a", 5)
    _, b = _make(tmp_path / "b", 6)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k not in ("region.parquet",
                                                      "nation.parquet"))


def test_planted_facts_match_the_files(tmp_path):
    facts = gen.track_stream(str(tmp_path), 9, n_files=3, records_per_file=3_000,
                             invalid_per_file=7)
    decisions, rewards, lines = set(), {}, 0
    for path in facts.files:
        with gzip.open(path, "rt") as f:
            for line in f:
                lines += 1
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("model") not in gen.MODELS or len(rec["message_id"]) != 27:
                    continue
                if "count" in rec:
                    if rec["count"] >= 1 and not ("sample" in rec and rec["count"] == 1):
                        decisions.add(rec["message_id"])
                elif isinstance(rec.get("reward"), float) and len(rec["decision_id"]) == 27:
                    rewards[rec["message_id"]] = rec["reward"]
    assert lines == facts.records
    assert len(decisions) == facts.decisions
    assert sum(rewards.values()) == facts.reward_mass
    assert all(n == 3 for n in facts.invalid.values())
    assert facts.late_partitions, "odd files must carry late rewards"


def test_every_reward_points_at_a_planted_decision(tmp_path):
    facts = gen.track_stream(str(tmp_path), 4, n_files=2, records_per_file=2_000,
                             invalid_per_file=0)
    dec, targets = set(), set()
    for path in facts.files:
        with gzip.open(path, "rt") as f:
            for rec in map(json.loads, f):
                (dec.add(rec["message_id"]) if "count" in rec
                 else targets.add(rec["decision_id"]))
    assert targets <= dec


def _day(ksuid: str) -> int:
    n = 0
    for ch in ksuid:
        n = n * 62 + gen._B62.index(ch)
    return ((n >> 128) + gen.KSUID_EPOCH - gen.BASE_TS) // gen.DAY


def test_late_rewards_dirty_few_of_many_partitions(tmp_path):
    facts = gen.track_stream(str(tmp_path), 2, n_files=2, records_per_file=2_000)
    parts = set()
    for path in facts.files:
        with gzip.open(path, "rt") as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ("count" in rec and rec["model"] in gen.MODELS
                        and len(rec["message_id"]) == 27):
                    parts.add((rec["model"], _day(rec["message_id"])))
    for m in gen.MODELS:
        assert len({d for model, d in parts if model == m}) >= 10
    # late rewards reach only the first file's last day, one partition per model
    assert facts.late_partitions <= parts
    assert {d for _, d in facts.late_partitions} == {gen.DAYS_PER_FILE - 1}

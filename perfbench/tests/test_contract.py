"""BENCHMARK.json agrees with what run.py reports, and the entry point
refuses to run without the program next to it."""

import json
import os
import re
import shutil
import subprocess
import sys

from conftest import BENCH, ROOT

import layers
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert 2 <= len(spec["workloads"]) <= 8


def test_benchmark_json_limits():
    spec = _spec()
    assert 1 <= spec["run_seconds"] <= 60
    assert spec["paths"] == ["perfbench"]
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "pipeline", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_tail_percentile():
    assert layers.tail_percentile(list(range(10))) is None
    pct, v = layers.tail_percentile([float(i) for i in range(1, 21)])
    assert (pct, v) == (50.0, 10.0)  # ten samples (11..20) lie beyond it


def test_stop_processes_ends_every_descendant():
    # a child and a grandchild that would outlive the run; the check runs
    # in a fresh process so no Spark session of the test process is touched
    code = (
        "import subprocess, sys, run\n"
        "p = subprocess.Popen(['bash', '-c', 'sleep 60 & echo $!; wait'],"
        " stdout=subprocess.PIPE, text=True)\n"
        "print(p.pid, p.stdout.readline().strip(), flush=True)\n"
        "run._stop_processes(None)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=BENCH,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    for pid in map(int, out.stdout.split()):
        assert not run._running(pid)  # gone, or ended and awaiting its reaper

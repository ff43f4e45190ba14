"""Pipeline benchmark: the bandit pipeline and a registry slice.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One run starts a ``local[N]`` session (N = usable cores), sets the
workload up, then runs whole workload cycles while the next one is
expected to end within ``--seconds`` (always at least one).  Every cycle's
outputs are checked.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` a separate traced run's per-layer metrics.  Each metric is
printed as ``metric <name> = <value> <unit>``, and the last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--workload all`` runs every workload
untraced and traced, each in a fresh process, and prints the tracing
overhead.

Everything the run writes goes under ``.perfbench/`` in the checkout:
scratch inputs and outputs (deleted at exit), plus the run record and
span file under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

from layers import PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("pipeline", "registry_slice")

# (name, unit) — the order BENCHMARK.json lists them in
END_TO_END = (("setup_s", "s"), ("cycle_s", "s"))


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Run:
    """State one benchmark run hands to its workload: the session, the
    tracer, scratch paths, and the tally of checked operations."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = work
        self.cores = usable_cores()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.setup_phases: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, extra_conf: dict | None = None):
        """The package's session factory with local[N], the UI off and
        every scratch directory inside the checkout."""
        from tracker_trainer_spark.session import get_spark
        from spans import Tracer

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        conf.update(extra_conf or {})
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, f"{self.workload}-{self.seed}",
                             self.trace)
        return self.spark

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase; reported as ``info setup.<name>_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = time.perf_counter() - t0

    def op(self, name: str, failures: list[str]) -> None:
        """Count one attempted operation; it failed if any check failed."""
        self.attempted += 1
        for msg in failures:
            self.failures.append((name, msg))
        print(f"check {name}: {'FAIL ' + '; '.join(failures) if failures else 'ok'}",
              flush=True)

    def failed_ops(self) -> int:
        return len({name for name, _ in self.failures})


def _isolate(work: str) -> None:
    """Point every temp directory the run's processes use at ``work``."""
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _descendants() -> list[int]:
    """Every live process below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            found.append(pid)
            todo.append(pid)
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists; reaps it first if it is our exited child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_processes(spark) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until every process this run started has ended.  The JVM leaves
    on its own only some time after this process exits, so it is ended
    here: it exits when its standard input closes."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # still end the processes below
            print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    pids = _descendants()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if _running(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _running(p)]
        if not live:
            return
    print(f"perfbench: processes still running: {live}", file=sys.stderr)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{workload}-{seed}-{int(trace)}-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)
    wl = importlib.import_module(f"workloads.{workload}")
    run = Run(workload, seed, seconds, trace, work)
    try:
        return _measure(run, wl, results)
    finally:
        _stop_processes(run.spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(run: Run, wl, results: str) -> int:
    t0 = time.perf_counter()
    state = wl.setup(run)
    setup_s = time.perf_counter() - t0
    print(f"setup done in {setup_s:.3f} s", flush=True)

    cycles = []
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        with run.tracer.span("cycle", index=len(cycles)):
            fig = wl.cycle(run, state, len(cycles))
        fig["wall_s"] = time.perf_counter() - t
        cycles.append(fig)
        print(f"cycle {len(cycles)}: {fig['wall_s']:.3f} s", flush=True)
        if time.perf_counter() - start + fig["wall_s"] > run.seconds:
            break

    controls = wl.finish(run, state, cycles)
    e2e = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(c["wall_s"] for c in cycles),
    }
    info = {f"setup.{k}_s": v for k, v in run.setup_phases.items()}
    info.update(wl.summary(run, state, cycles))
    info["failed_ops_share"] = run.failed_ops() / max(run.attempted, 1)
    layers = wl.per_layer(run, state, cycles, info, controls) if run.trace else {}

    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"metric {k} = {v:.6g} {units[k]}")
    for k, v in info.items():
        print(f"info {k} = {v:.6g}")
    for k, v in controls.items():
        print(f"control {k} = {v:.6g} s")
    if run.trace:
        for name, unit in PER_LAYER:
            print(f"layer {name} = {layers[name]:.6g} {unit}")
    print(f"ops attempted={run.attempted} failed={run.failed_ops()}")

    stem = os.path.join(results, f"{run.workload}-seed{run.seed}-trace{int(run.trace)}")
    record = {"workload": run.workload, "seed": run.seed, "trace": run.trace,
              "cores": run.cores, "cycles": cycles, "end_to_end": e2e,
              "info": info, "controls": controls, "per_layer": layers,
              "failures": run.failures}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if run.trace:
        run.tracer.write(stem + "-spans.json")

    if run.trace:
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    correct = run.attempted > 0 and not run.failures
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed_ops(), "metrics": metrics}),
          flush=True)
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in a fresh process; prints
    every metric by name and the tracing overhead per workload."""
    status = 0
    for w in WORKLOADS:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(trace)]
            print(f"== {w} trace={trace}", flush=True)
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.splitlines()
            print("\n".join(l for l in lines[:-1]
                            if l.startswith(("metric", "info", "control",
                                             "layer", "check", "ops"))))
            if p.returncode != 0 or not lines:
                print(p.stderr[-2000:], file=sys.stderr)
                status = 1
                continue
            result = json.loads(lines[-1])
            status |= 0 if result["correct"] else 1
            walls[trace] = next(float(l.split()[3]) for l in lines
                                if l.startswith(("metric cycle_s", "layer trace.cycle_s")))
        if len(walls) == 2:
            print(f"tracing overhead {w}: {walls[1] - walls[0]:+.3f} s "
                  f"({walls[1]:.3f} traced - {walls[0]:.3f} untraced cycle)")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "tracker_trainer_spark", "__init__.py")):
        print("perfbench: the tracker_trainer_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    # a terminated run still stops what it started (run_one's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())

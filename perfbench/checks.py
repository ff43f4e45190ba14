"""Output checks.  Each returns a list of failure messages (empty = pass)
and relies only on properties the engine guarantees: row and key counts,
exact sums of integer-valued rewards, finiteness, per-group maxima and
the registry's strict DuckDB oracle comparison.  GBT metric values are
never compared — they shift with partitioning."""

from __future__ import annotations

import functools
import importlib.util
import math
import os

import pandas as pd


def ingest_drain(hist: dict, planted: dict) -> list[str]:
    """The drain's invalid-record histogram equals the planted counts."""
    got = {k: int(v) for k, v in hist.items() if v}
    want = {k: int(v) for k, v in planted.items() if v}
    return [] if got == want else [f"invalid histogram {got} != planted {want}"]


def ingest_groom(rows: int, distinct_keys: int, reward_total: float,
                 decisions: int, reward_mass: float, groomed: int) -> list[str]:
    """After groom: one row per planted decision, no duplicate
    (model, dt, decision_id), reward mass conserved, ≥1 partition
    rewritten (late rewards always dirty some partition)."""
    out = []
    if rows != decisions:
        out.append(f"timeline rows {rows} != planted decisions {decisions}")
    if distinct_keys != rows:
        out.append(f"{rows - distinct_keys} duplicate keys after groom")
    if reward_total != reward_mass:
        out.append(f"reward total {reward_total!r} != planted {reward_mass!r}")
    if groomed < 1:
        out.append("groom rewrote no partition")
    return out


def model(phase: str, n_trees: int, feature_names: list) -> list[str]:
    out = []
    if n_trees < 1:
        out.append(f"{phase} model has no tree")
    if not feature_names:
        out.append(f"{phase} model has no feature names")
    return out


def scores(scored: pd.DataFrame, n_candidates: int) -> list[str]:
    """Every candidate row comes back once with a finite score."""
    out = []
    if len(scored) != n_candidates:
        out.append(f"{len(scored)} scored rows != {n_candidates} candidates")
    bad = int((~scored["score"].map(
        lambda v: v is not None and math.isfinite(v))).sum())
    if bad:
        out.append(f"{bad} candidates without a finite score")
    return out


def ranking(ranked: pd.DataFrame, scored: pd.DataFrame) -> list[str]:
    """rank_items: exactly one row per decision, holding its group's
    maximum score."""
    n_dec = scored["decision_id"].nunique()
    if len(ranked) != n_dec or ranked["decision_id"].nunique() != n_dec:
        return [f"{len(ranked)} ranked rows for {n_dec} decisions"]
    best = scored.groupby("decision_id")["score"].max()
    got = ranked.set_index("decision_id")["score"].reindex(best.index)
    worse = int((got != best).sum())
    return ([f"{worse} decisions whose ranked row is not the group maximum"]
            if worse else [])


@functools.cache
def _oracle_module():
    """The registry's own strict comparator (tests/test_queries_oracle.py),
    loaded by path so the benchmark shares its exact semantics."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "test_queries_oracle.py")
    spec = importlib.util.spec_from_file_location("_registry_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Strict DuckDB-oracle match: dtype family and exact value reprs."""
    mod = _oracle_module()
    try:
        mod.assert_strict_equal(name, mod.normalize(got), mod.normalize(want))
    except AssertionError as e:
        return [str(e).splitlines()[0]]
    return []

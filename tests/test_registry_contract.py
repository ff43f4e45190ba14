"""Registry / driver-contract invariants.

The per-round driver verifies only the FIRST 50 ``queries()`` entries,
so the registry ordering IS part of the correctness pipeline: these
pins fail loudly if a future round adds queries without folding the
newly certified keys into the front-load set, or registers a query
without an oracle (outside the documented rows-only query).
"""

import hashlib
import inspect

import pytest

from tracker_trainer_spark.queries import (
    ORACLES,
    QUERIES,
    _DRIVER_CERTIFIED,
    _assemble_registry,
)

DRIVER_WINDOW = 50
# non-SQL-expressible by design: model fits + inference
# (media_image_features left this set in r7 — portable dyadic stub
# decode; train_encode_events left in r8 — numeric vector slots gave
# it a full oracle, the xxh3 string slot adjudicated in its docstring)
ROWS_ONLY = {"train_e2e_metrics"}


def test_every_query_has_an_oracle_or_is_documented_rows_only():
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY
    assert not missing, missing
    # the declared exceptions must really LACK oracles — a stale
    # declaration would let a future oracle removal pass silently
    assert not ROWS_ONLY & set(ORACLES)
    stale = ROWS_ONLY - set(QUERIES)
    assert not stale, stale
    assert not set(ORACLES) - set(QUERIES)  # no orphan oracle SQL


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


def test_queries_without_oracle_are_the_declared_exceptions():
    # non-SQL-expressible ops only — anything else missing an oracle is
    # a silent hole in the correctness gate
    assert set(QUERIES) - set(ORACLES) == {
        "train_e2e_metrics",      # model fits + inference
    }


def test_certified_keys_all_exist():
    """A renamed/removed query must also leave the certified set —
    otherwise the front-loader silently mis-partitions."""
    assert _DRIVER_CERTIFIED <= set(QUERIES)


def test_uncertified_queries_front_load_into_the_driver_window():
    """Every not-yet-driver-certified query must sit inside the first
    DRIVER_WINDOW entries while slots remain; overflow (deliberately
    deferred additions) must occupy the TAIL positions only, never
    displacing an older uncertified query from the window."""
    keys = list(QUERIES)
    uncertified = [k for k in keys if k not in _DRIVER_CERTIFIED]
    window = keys[:DRIVER_WINDOW]
    in_window = [k for k in uncertified if k in window]
    assert len(in_window) == min(len(uncertified), DRIVER_WINDOW), (
        f"{len(uncertified)} uncertified but only {len(in_window)} "
        f"inside the {DRIVER_WINDOW}-query driver window")
    # certified keys may only appear in the window when uncertified
    # queries don't fill it
    if len(uncertified) >= DRIVER_WINDOW:
        assert all(k not in _DRIVER_CERTIFIED for k in window)


# sha256 over every (name, oracle SQL) pair in driver order: pins the
# registry's names, order and oracle strings in one value.
REGISTRY_DIGEST = (
    "4e62ea6e4b30b687733b2bce5a39c72477f17a5dbe6a0420db754b61584bdff5")


def test_registry_names_order_and_oracles_are_pinned():
    h = hashlib.sha256()
    for name in QUERIES:
        h.update((name + "\t" + (ORACLES.get(name) or "")).encode() + b"\0")
    assert h.hexdigest() == REGISTRY_DIGEST, (
        "registry names, order or oracle SQL changed; if a query was "
        f"deliberately added, set REGISTRY_DIGEST = {h.hexdigest()!r}")


def test_assembly_rejects_a_name_registered_twice():
    def fn(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_dup"):
        _assemble_registry((("q_dup", fn, "SELECT 1"),),
                           (("q_dup", fn, None),))


def test_query_callables_take_spark_and_sfdir():
    for name, fn in QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], (name, params)


def test_entry_module_exposes_full_registry():
    import __spark_entry__ as e

    assert set(e.queries()) == set(QUERIES)
    assert e.oracle_sql() == ORACLES

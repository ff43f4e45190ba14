"""Each output check passes on correct output and fails on a planted fault."""

import math

import pandas as pd
import pytest

import checks


def test_ingest_drain():
    planted = {"unparseable": 2, "invalid model": 1}
    assert checks.ingest_drain({"unparseable": 2, "invalid model": 1}, planted) == []
    assert checks.ingest_drain({"unparseable": 1, "invalid model": 1}, planted)
    assert checks.ingest_drain({"unparseable": 2}, planted)


GOOD = dict(rows=100, distinct_keys=100, reward_total=42.0, decisions=100,
            reward_mass=42.0, groomed=3)


def test_ingest_groom_passes_on_correct_output():
    assert checks.ingest_groom(**GOOD) == []


@pytest.mark.parametrize("fault", [
    dict(rows=101),                      # a duplicate decision row appended
    dict(rows=101, distinct_keys=101),   # an extra decision
    dict(distinct_keys=99),              # duplicate keys left by groom
    dict(reward_total=41.0),             # lost reward mass
    dict(groomed=0),                     # groom repaired nothing
])
def test_ingest_groom_fails_on_planted_fault(fault):
    assert checks.ingest_groom(**{**GOOD, **fault})


def test_model():
    assert checks.model("phase 1", 2, ["a"]) == []
    assert checks.model("phase 1", 0, ["a"])
    assert checks.model("phase 2", 1, [])


def _scored():
    return pd.DataFrame({"decision_id": ["d1", "d1", "d2", "d2"],
                         "item": ["a", "b", "a", "b"],
                         "score": [0.1, 0.7, 0.4, 0.2]})


def test_scores():
    assert checks.scores(_scored(), 4) == []
    assert checks.scores(_scored().iloc[:3], 4)            # one score dropped
    bad = _scored()
    bad.loc[1, "score"] = math.nan
    assert checks.scores(bad, 4)


def test_ranking():
    scored = _scored()
    good = scored.iloc[[1, 2]]
    assert checks.ranking(good, scored) == []
    assert checks.ranking(scored.iloc[[0, 2]], scored)     # not the maximum
    assert checks.ranking(scored.iloc[[1]], scored)        # a decision missing
    assert checks.ranking(scored.iloc[[1, 1, 2]], scored)  # two rows for d1


def test_oracle_is_strict():
    want = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "x": [0.5, 1.25]})
    assert checks.oracle("q", want.copy(), want) == []
    changed = want.copy()
    changed.loc[1, "x"] = 1.2500001
    assert checks.oracle("q", changed, want)
    assert checks.oracle("q", want.astype({"n": "float64"}), want)  # int → float
    assert checks.oracle("q", want.iloc[:1], want)

"""End to end through the package: a small generated drain passes the
ingest checks, the traced run's hook sees groom's own plan, and a
duplicate decision row appended after groom makes the groom check
fail."""

import types

import pytest

import checks
import gen
from spans import Tracer
from workloads import pipeline


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from tracker_trainer_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.sql.shuffle.partitions": "2",
                              "spark.ui.enabled": "false",
                              "spark.local.dir": str(local)})
    yield s
    s.stop()


def test_planted_duplicate_row_fails_the_groom_check(spark, tmp_path):
    from tracker_trainer_spark.ingest.groom import groom
    from tracker_trainer_spark.ingest.sink import write_timeline

    facts = gen.track_stream(str(tmp_path / "src"), 3, n_files=2,
                             records_per_file=500)
    run = types.SimpleNamespace(spark=spark)
    tl = str(tmp_path / "tl")
    _, hist = pipeline._drain(run, str(tmp_path / "src"), tl, str(tmp_path / "ck"))
    assert checks.ingest_drain(hist, facts.invalid) == []
    tracer, plans = Tracer(spark, "test", True), []
    with pipeline._groom_plans(tracer, plans):  # the traced run's hook
        groomed = groom(spark, tl)
    # groom planned once, through the hook, and rewrote what it planned
    assert len(plans) == len(tracer.find("ingest.groom.plan")) == 1
    assert groomed == len(plans[0].dirty) >= 1
    stats = pipeline._timeline_stats(spark, tl)
    assert checks.ingest_groom(*stats, facts.decisions, facts.reward_mass,
                               groomed) == []

    write_timeline(spark.read.parquet(tl).limit(1), tl)  # the planted fault
    stats = pipeline._timeline_stats(spark, tl)
    failures = checks.ingest_groom(*stats, facts.decisions, facts.reward_mass,
                                   groomed)
    assert any("duplicate" in f for f in failures)

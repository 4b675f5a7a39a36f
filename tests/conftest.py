import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qamd_spark import session as qsession  # noqa: E402
from qamd_spark import synth  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    sp = qsession.get_spark("qamd-tests", master="local[4]", shuffle_partitions=8)
    yield sp
    sp.stop()


_job_groups = itertools.count()  # group ids unique across the session


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` (typically one ``main.main(argv)``
    call) in a fresh Spark job group and returns ``(result, jobs,
    escaped)``: the number of Spark jobs it started in that group, and the
    number it started with no group at all. CLI tests assert ``jobs <=
    budget`` (AQE can skip a job, so a budget is an upper bound, not an
    equality) and ``escaped == 0``: a job that runs on a thread which did
    not inherit the caller's local properties loses the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"count-jobs-{next(_job_groups)}"
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped
        return result, len(tracker.getJobIdsForGroup(group)), len(escaped)

    return run


@pytest.fixture(scope="session")
def synth_pdf():
    return synth.generate(n_convs=60, seed=42, hot_conv_turns=120)


@pytest.fixture(scope="session")
def synth_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "transcripts.parquet"
    synth.write_parquet(str(p), n_convs=60, seed=42, hot_conv_turns=120)
    return str(p)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "skew: empirical skew-torture timing tests (wall-clock sensitive; "
        "deselect with -m 'not skew' on noisy hosts)",
    )

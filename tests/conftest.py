import pytest

from webdedup.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="webdedup-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def run_jobs(spark):
    """``run_jobs(group, action)`` → (``action()``, the Spark jobs it ran),
    counted with the status tracker under a job group name not used
    before."""
    sc = spark.sparkContext

    def run(group: str, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

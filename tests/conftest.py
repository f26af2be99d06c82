import pytest

from lindel_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lindel-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def traced(spark):
    """``traced(fn) -> (result, jobs, input_records)``: the Spark jobs
    ``fn`` ran and the records their stages read, from the status
    store under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def run(fn):
        group = f"traced-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # feeds the store
        jobs = tracker.getJobIdsForGroup(group)
        stages = [store.stageData(sid, False, sc._jvm.java.util.ArrayList(),
                                  False, no_quantiles)
                  for j in jobs for sid in tracker.getJobInfo(j).stageIds]
        return out, len(jobs), sum(a.apply(i).inputRecords()
                                   for a in stages for i in range(a.size()))

    return run

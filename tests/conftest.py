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


def _in_job_group(sc, fn):
    """Run ``fn`` under a job group of its own; return its result and
    the ids of the jobs it ran, once the listener bus has fed them to
    the status store."""
    import uuid

    group = f"traced-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def traced(spark):
    """``traced(fn) -> (result, jobs, input_records)``: the Spark jobs
    ``fn`` ran and the records their stages read, from the status
    store under a job group of its own."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def run(fn):
        out, jobs = _in_job_group(sc, fn)
        stages = [store.stageData(sid, False, sc._jvm.java.util.ArrayList(),
                                  False, no_quantiles)
                  for j in jobs for sid in tracker.getJobInfo(j).stageIds]
        return out, len(jobs), sum(a.apply(i).inputRecords()
                                   for a in stages for i in range(a.size()))

    return run


@pytest.fixture
def actions(spark):
    """``actions(fn) -> (result, n)``: how many Spark SQL actions ``fn``
    ran jobs for (a count, a collect, an eager checkpoint — each one
    query execution, which AQE may split into several jobs), from the
    SQL status store under a job group of its own."""
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def run(fn):
        out, jobs = _in_job_group(sc, fn)
        jobs = set(jobs)
        return out, sum(
            1 for x in to_java(sql_store.executionsList())
            if jobs & {int(j) for j in to_java(x.jobs()).keySet()})

    return run

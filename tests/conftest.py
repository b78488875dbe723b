import pytest


@pytest.fixture(scope="session")
def spark():
    from openpolicedata_spark import get_spark

    spark = get_spark(app_name="opdspark-tests", master="local[8]",
                      shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def source(spark, sf_dir):
    from openpolicedata_spark import Source, local_testdata_catalog

    return Source("TestData", catalog=local_testdata_catalog(sf_dir), spark=spark)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` runs ``fn()`` under Spark job group
    ``group`` and returns (its result, the number of jobs it started)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_py4j(spark):
    """``count_py4j(fn)`` runs ``fn()`` and returns (its result, the number
    of py4j commands the driver sent the JVM meanwhile: every method call,
    field read, object creation and proxy release)."""
    from py4j.clientserver import ClientServerConnection

    def run(fn):
        sent = 0
        send = ClientServerConnection.send_command

        def counting(self, command):
            nonlocal sent
            sent += 1
            return send(self, command)

        ClientServerConnection.send_command = counting
        try:
            out = fn()
        finally:
            ClientServerConnection.send_command = send
        return out, sent

    return run

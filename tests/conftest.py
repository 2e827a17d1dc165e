import os

import pytest

from lakeside_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("lakeside-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sql_executions(spark):
    """``sql_executions(description)``: the SQL executions the session's
    status store holds under a job description, once the listener bus has
    drained."""

    def count(description: str) -> int:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        executions = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionsList()
        )
        return sum(e.description() == description for e in executions)

    return count


@pytest.fixture(scope="session")
def gate_sides():
    """``gate_sides(module, const, call)`` runs ``call()`` on both sides of
    an auto-gate: with ``module.const`` at 0 (the scale side), then very
    large (the small side), and returns the two results. Gates read their
    constant at call time, so ``call`` must evaluate inside."""

    def run(module, const, call):
        out = []
        for value in (0, 1 << 30):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(module, const, value)
                out.append(call())
        return out

    return run

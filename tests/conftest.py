import pytest

from dbp_etl_spark.session import get_spark

# Test tables hold a handful of rows, so compiling generated code for
# every new plan costs more than running it saves: the suite runs its
# expressions and stages interpreted. Results are the same either way.
# Under the engine's default 48 GB driver heap an interpreted run grew
# its JVM until the machine ran out of memory; tiny tables need a few
# GB at most.
TEST_CONF = {
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    "spark.sql.codegen.wholeStage": "false",
    "spark.driver.memory": "4g",
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dbp-etl-spark-tests", cores=4, shuffle_partitions=8, extra_conf=TEST_CONF
    )
    yield s
    s.stop()

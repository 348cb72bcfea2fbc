import pytest

from petk_spark.session import recommended_builder


@pytest.fixture(scope="session")
def spark():
    # The engine's recommended session (8 shuffle partitions at 4 cores,
    # Arrow on) plus the test-only overrides.
    s = (
        recommended_builder("local[4]", cores=4)
        .appName("petk-spark-tests")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()

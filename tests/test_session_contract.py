"""One session contract: every session this repo owns is built by
``petk_spark.session.recommended_builder``; the only other builder is
the external driver's deliberately bare replica
(``tests/driver_replica.driver_builder``)."""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Assembled so this file does not match itself.
BUILDER = "SparkSession" + ".builder"

ALLOWED = {"petk_spark/session.py", "tests/driver_replica.py"}


def test_builder_chains_only_in_the_two_definitions():
    found = set()
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8", errors="replace") as f:
                if BUILDER in f.read():
                    found.add(os.path.relpath(path, REPO))
    assert found == ALLOWED


def test_fixture_session_is_the_recommended_one(spark):
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

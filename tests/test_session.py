"""Session policy pins: shuffle width follows the core count."""

from __future__ import annotations

from bootleg_spark.session import get_spark

KEY = "spark.sql.shuffle.partitions"


def test_default_shuffle_partitions_are_two_per_core(spark):
    """No floor: a 3-core session gets 6 partitions, not 32, so small
    exchanges do not run ~10 tasks per core. get_spark reuses the running
    session and re-sets the SQL conf, so the test restores it."""
    before = spark.conf.get(KEY)
    try:
        assert get_spark(cores=3).conf.get(KEY) == "6"
        assert get_spark(cores=16).conf.get(KEY) == "32"
    finally:
        spark.conf.set(KEY, before)

"""Session policy pins: shuffle width follows the core count, and a
running session is never handed out under other settings."""

from __future__ import annotations

import pytest

from bootleg_spark.session import get_spark

KEY = "spark.sql.shuffle.partitions"


def test_default_shuffle_partitions_are_two_per_core(spark):
    """No floor: a 4-core session gets 8 partitions, not 32, so small
    exchanges do not run ~10 tasks per core. get_spark reuses the running
    session and re-sets the SQL conf, so the test restores it."""
    sc, before = spark.sparkContext, spark.conf.get(KEY)
    try:
        got = get_spark(app_name=sc.appName, cores=sc.defaultParallelism).conf.get(KEY)
        assert got == str(2 * sc.defaultParallelism)
    finally:
        spark.conf.set(KEY, before)


def test_running_session_mismatch_raises(spark):
    """Another core count or app name would silently come back as the
    running session's own: refuse, and leave the session as it was."""
    sc, before = spark.sparkContext, spark.conf.get(KEY)
    for app_name, cores in ((sc.appName, 3), ("another-app", sc.defaultParallelism)):
        with pytest.raises(ValueError, match="already running"):
            get_spark(app_name=app_name, cores=cores)
    assert spark.conf.get(KEY) == before

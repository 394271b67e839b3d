"""Session defaults come from the host unless the env overrides them
(no SparkSession is started here)."""

from __future__ import annotations

from ccspark.session import host_defaults

GB = 2**30


def test_defaults_follow_the_host():
    assert host_defaults({}, 4, 15 * GB) == (4, "7g")
    assert host_defaults({}, 1, 1 * GB) == (1, "1g")       # at least 1g
    assert host_defaults({}, 64, 512 * GB) == (64, "24g")  # capped


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "8", "CCSPARK_DRIVER_MEM": "2g"}
    assert host_defaults(env, 4, 15 * GB) == (8, "2g")
    # an empty value counts as unset
    env = {"SPARK_GRAFT_CPUS": "", "CCSPARK_DRIVER_MEM": ""}
    assert host_defaults(env, 4, 15 * GB) == (4, "7g")

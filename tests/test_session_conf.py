"""``get_spark`` conf resolution: SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS
fails fast at read time with a clear error, not at first query with an
opaque Spark conf error; and the shuffle-partition default is one per core
on a local master, a fixed width elsewhere, unless the caller names a
value."""

from __future__ import annotations

import pytest

from fdi_flow_spark.core.session import _default_shuffle_partitions, get_spark

# Every test here calls get_spark on the shared session, which re-applies
# the builder conf to it.
pytestmark = pytest.mark.usefixtures("restore_session_conf")

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("bad", ["abc", "-3", "0", "1.5"])
def test_initial_shuffle_partitions_validated(monkeypatch, bad, spark):
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS"):
        get_spark(app_name="conf-check")


def test_initial_shuffle_partitions_valid_passthrough(monkeypatch, spark):
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "128")
    s = get_spark(app_name="conf-check")
    assert s.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "128"


def test_shuffle_partitions_default_is_default_parallelism(monkeypatch, spark):
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    assert cores != 7
    spark.conf.set(SHUFFLE, "7")
    assert get_spark().conf.get(SHUFFLE) == str(cores)


def test_shuffle_partitions_explicit_wins(monkeypatch, spark):
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", raising=False)
    assert get_spark(shuffle_partitions=7).conf.get(SHUFFLE) == "7"
    assert get_spark(extra_conf={SHUFFLE: "9"}).conf.get(SHUFFLE) == "9"


class _Context:
    """The parts of a SparkContext that ``_default_shuffle_partitions`` reads."""

    def __init__(self, master, default_parallelism, conf=None):
        self.master = master
        self.defaultParallelism = default_parallelism
        self._conf = conf or {}

    def getConf(self):
        return self._conf


@pytest.mark.parametrize(
    "master, conf, expected",
    [
        ("local", {}, 3),
        ("local[3]", {}, 3),
        ("local[*]", {}, 3),
        # executors still registering: defaultParallelism is a start-up race
        ("local-cluster[2,8,4096]", {}, 32),
        ("spark://host:7077", {}, 32),
        ("yarn", {"spark.default.parallelism": "48"}, 48),
    ],
)
def test_default_shuffle_partitions_by_master(master, conf, expected):
    assert _default_shuffle_partitions(_Context(master, 3, conf)) == expected

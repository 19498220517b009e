"""Session factory conf: the batch starting point and the stateful-stream
state-store count are separate confs, and SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS
fails fast at read time with a clear error, not at first query with an
opaque Spark conf error.

Every test here calls ``get_spark`` on the shared session, which re-applies
the builder options to it, so each one restores the session's conf
(``restored_conf``) and checks conftest's values survive."""

from __future__ import annotations

import os

import pytest

from fdi_flow_spark.core.session import get_spark

STREAM = "spark.sql.shuffle.partitions"
BATCH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
CONFTEST = {STREAM: "4", BATCH: "4"}


@pytest.fixture(autouse=True)
def _conftest_conf_survives(spark):
    # autouse fixtures set up first, so this checks after restored_conf
    yield
    assert {k: spark.conf.get(k) for k in CONFTEST} == CONFTEST


@pytest.mark.parametrize("bad", ["abc", "-3", "0", "1.5"])
def test_initial_shuffle_partitions_validated(monkeypatch, bad, restored_conf):
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS"):
        get_spark(app_name="conf-check")


def test_initial_shuffle_partitions_valid_passthrough(monkeypatch, restored_conf):
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "128")
    assert get_spark(app_name="conf-check").conf.get(BATCH) == "128"


def test_batch_start_and_stream_stores_split(monkeypatch, restored_conf):
    """Batch plans start from shuffle_partitions (or the env override);
    streams get one state store per task slot of local[4]."""
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", raising=False)
    s = get_spark(master="local[4]", shuffle_partitions=12)
    assert s.conf.get(STREAM) == "4"
    assert s.conf.get(BATCH) == "12"

    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "128")
    s = get_spark(master="local[4]", shuffle_partitions=12)
    assert s.conf.get(BATCH) == "128"
    assert s.conf.get(STREAM) == "4"


@pytest.mark.parametrize(
    "master, stream",
    [
        ("local", "1"),
        ("local[*]", str(os.cpu_count())),
        # a cluster keeps shuffle_partitions: no store count pinned to
        # the executors up at startup
        ("spark://host:7077", "12"),
        ("yarn", "12"),
    ],
)
def test_stream_store_count_follows_master(monkeypatch, restored_conf, master, stream):
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", raising=False)
    s = get_spark(master=master, shuffle_partitions=12)
    assert s.conf.get(STREAM) == stream
    assert s.conf.get(BATCH) == "12"

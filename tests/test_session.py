"""Session factory: the AQE default and the warning when it flips."""

from __future__ import annotations

import logging

import pytest

from cassandra_pv_archiver_spark import session


class _Builder:
    """Stands in for ``SparkSession.builder``: records the configs."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _m):
        return self

    def appName(self, _n):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture()
def builder(monkeypatch):
    b = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", b)
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE"):
        monkeypatch.delenv(k, raising=False)
    return b


def test_explicit_partitions_turn_aqe_on_with_one_warning(
    builder, monkeypatch, caplog
):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session.get_spark()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "SPARK_GRAFT_AQE=0" in warnings[0].getMessage()


@pytest.mark.parametrize(
    "env, aqe",
    [({}, "false"),
     ({"SPARK_GRAFT_SHUFFLE_PARTITIONS": "64", "SPARK_GRAFT_AQE": "0"}, "false"),
     ({"SPARK_GRAFT_AQE": "1"}, "true")],
)
def test_no_warning_without_the_implied_flip(builder, monkeypatch, caplog, env, aqe):
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session.get_spark()
    assert conf["spark.sql.adaptive.enabled"] == aqe
    assert not caplog.records

"""The bounded-drain core (``streaming/pipelines.drain``) and its two sink
wrappers: the caller's session is never mutated, the drain's scoped
session carries the caller's settings plus the drain's partition count,
the stop condition drains capped readers completely, and the checkpoint
never outlives the call."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from flinkrunner_spark.streaming import pipelines as P

SHUFFLE = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"


@contextlib.contextmanager
def _caller_conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture
def src(spark, tmp_path):
    path = str(tmp_path / "in")
    spark.range(10).write.parquet(path)
    return path


def _ids(s, src: str):
    return s.readStream.schema("id long").parquet(src)


def test_drain_scopes_shuffle_partitions_to_its_session(spark, src):
    before = spark.conf.get(SHUFFLE)
    drain_value = str(int(before) + 1)
    seen = {}

    def build(s):
        seen["caller"] = spark.conf.get(SHUFFLE)
        seen["drain"] = s.conf.get(SHUFFLE)
        return _ids(s, src)

    with _caller_conf(spark, P.DRAIN_PARTITIONS_KEY, drain_value):
        out = P.run_to_memory(spark, build, "t_drain_scope")
    assert out.count() == 10
    assert seen == {"caller": before, "drain": drain_value}
    assert spark.conf.get(SHUFFLE) == before


def test_drain_override_reaches_the_scoped_session(spark, src):
    seen = {}

    def build(s):
        seen["drain"] = s.conf.get(SHUFFLE)
        return _ids(s, src)

    with _caller_conf(spark, P.DRAIN_PARTITIONS_KEY, "6"):
        P.run_to_memory(spark, build, "t_drain_override")
    assert seen["drain"] == "6"


@pytest.mark.parametrize("bad", ["0", "-2", "x"])
def test_drain_override_rejects_bad_values(spark, bad):
    with _caller_conf(spark, P.DRAIN_PARTITIONS_KEY, bad):
        with pytest.raises(ValueError) as e:
            P.drain_state_partitions(spark)
    assert P.DRAIN_PARTITIONS_KEY in str(e.value)
    assert repr(bad) in str(e.value)


def test_caller_timezone_reaches_both_sink_wrappers(spark, src):
    zone = "America/Los_Angeles"
    with _caller_conf(spark, TZ, zone):
        mem = P.run_to_memory(
            spark,
            lambda s: _ids(s, src).select(F.current_timezone().alias("tz")),
            "t_drain_tz",
        )
        upd = P.run_updates_final(
            spark,
            lambda s: _ids(s, src).groupBy(F.current_timezone().alias("tz")).count(),
            ["tz"],
        )
        assert {r["tz"] for r in mem.collect()} == {zone}
        assert [tuple(r) for r in upd.collect()] == [(zone, 10)]


def test_drain_reads_a_capped_reader_to_the_end(spark):
    """The RabbitMQ stream reader caps each read; an availableNow
    trigger stops after the first capped batch (a third of the queue),
    the drain's processAllAvailable reads every message. The caller
    knows the source already, which must not stop the scoped session
    from registering it."""
    from flinkrunner_spark.sources import rabbitmq_datasource
    from flinkrunner_spark.sources.factory import RabbitMQSourceConfig
    from flinkrunner_spark.testing import LoopbackAmqpBroker
    from flinkrunner_spark.util.amqp import AmqpClient

    n = 30
    rabbitmq_datasource.register(spark)
    with LoopbackAmqpBroker() as b:
        with AmqpClient(b.uri) as c:
            c.queue_declare("q")
            for i in range(n):
                c.publish("q", f'{{"id": {i}}}'.encode(), correlation_id=str(i))
        src = RabbitMQSourceConfig(
            "t",
            {"connector": "rabbitmq", "uri": b.uri, "queue": "q",
             "streaming": True, "schema": "id long",
             "max.messages.per.read": n // 3},
        )
        out = P.run_to_memory(spark, src.load, "t_drain_rmq")
        assert sorted(r["id"] for r in out.collect()) == list(range(n))


def test_drain_removes_its_checkpoint_when_start_raises(spark):
    seen = []

    def start(s, ckpt):
        seen.append(ckpt)
        assert os.path.isdir(ckpt)
        raise RuntimeError("start failed")

    with pytest.raises(RuntimeError, match="start failed"):
        P.drain(spark, start)
    assert len(seen) == 1 and not os.path.exists(seen[0])

"""get_spark's master resolution: spark-submit's master wins, anything else
runs local[N] (no JVM is launched here — the builder is a recording fake)."""

import types

import pytest


class _RecordingBuilder:
    def __init__(self):
        self.master_url = None

    def master(self, url):
        self.master_url = url
        return self

    def appName(self, _name):
        return self

    def config(self, _key, _value):
        return self

    def getOrCreate(self):
        sc = types.SimpleNamespace(setLogLevel=lambda _level: None)
        return types.SimpleNamespace(sparkContext=sc)


@pytest.mark.parametrize(
    "env,want",
    [
        ({"MASTER": "foo"}, "local[3]"),  # stray MASTER from unrelated tooling
        ({"MASTER": ""}, "local[3]"),
        ({}, "local[3]"),
        ({"MASTER": "yarn"}, None),
        ({"MASTER": "local[2]"}, None),
        ({"MASTER": "spark://host:7077"}, None),
        ({"MASTER": "k8s://https://host:6443"}, None),
        ({"PYSPARK_GATEWAY_PORT": "4242"}, None),
        ({"MASTER": "foo", "PYSPARK_GATEWAY_PORT": "4242"}, None),
    ],
)
def test_master_only_from_spark_submit(monkeypatch, env, want):
    from search_engine_spark import session

    for var in ("MASTER", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark("t", cpus=3)
    assert builder.master_url == want

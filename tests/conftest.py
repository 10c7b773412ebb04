from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from etl_jetro_spark.session import get_spark

    s = get_spark(app_name="etl-jetro-tests", shuffle_partitions=4)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive assertions."""
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


def py4j_commands(monkeypatch, fn) -> int:
    """Py4J commands that ``fn()`` sends to the JVM. The JVM-object
    releases that Python's garbage collector sends at any time are not
    counted."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    calls = 0

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        fn()
    finally:
        monkeypatch.setattr(GatewayClient, "send_command", send)
    return calls

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


def union_find_components(edges) -> dict:
    """node → the minimum node id connected to it, by a Python union-find
    over ``(a, b)`` pairs: the oracle for ``connected_components``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def melt(spark, df, ids, var, value, numeric_only=False):
    """``df`` unpivoted on every non-id column (``numeric_only``: every
    numeric-named one) by ``operators.unpivot.stack_sql``: the ``ids``
    columns, then ``var`` and ``value``."""
    from etl_jetro_spark.operators.unpivot import numeric_columns, stack_sql
    from etl_jetro_spark.sqltext import ident, sql_over

    cols = [c for c in df.columns if c not in ids]
    if numeric_only:
        cols = numeric_columns(cols)
    keep = "".join(f"{ident(c)}, " for c in ids)
    return sql_over(spark, {"t": df}, f"SELECT {keep}{stack_sql(cols, var, value)} FROM t")


def canonical(spark, fact, pipeline, edd_iso):
    """``fact``'s columns projected by ``operators.canonical.canonical_sql``
    for ``pipeline``, with the Expected Delivery Date ``edd_iso``."""
    from etl_jetro_spark.operators.canonical import PIPELINES, canonical_sql
    from etl_jetro_spark.sqltext import date_lit, ident, sql_over

    select = canonical_sql(PIPELINES[pipeline], date_lit(edd_iso), {c: ident(c) for c in fact.columns})
    return sql_over(spark, {"fact": fact}, f"SELECT {select} FROM fact")


def pdf_page_count(data: bytes) -> int:
    """Pages in a PDF written by ``sinks.pdf``: the kids of its page tree."""
    from etl_jetro_spark.sinks.pdf import _parse_objects, _root_pages_and_kids

    _root, _pages, kids = _root_pages_and_kids(data, _parse_objects(data))
    return len(kids)

"""Shared fixtures: one local SparkSession per test run.

Mirrors the reference's zero-infrastructure test strategy
(reference tests/README.md:89-103): no Kafka, no S3, no torch — the
deterministic surrogate and hand-built micro-DataFrames pin semantics.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("firewatch-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir_mid() -> str:
    """The driver's correctness scale (VERDICT r5 #6): the _TAIL oracle
    replay runs here so a size-dependent bug (cap boundaries, bucket
    splits) can't hide at sf0.001 while the driver gates sf0.01."""
    return "/root/testdata/sf0.01"


def rows(df, *order_cols):
    """Collect to a list of dicts, optionally ordered."""
    if order_cols:
        df = df.orderBy(*order_cols)
    return [r.asDict(recursive=True) for r in df.collect()]


def exchange_inputs(jplan) -> list:
    """The output attributes of every Exchange's child in a physical
    plan tree (``df._jdf.queryExecution().executedPlan()``)."""
    if "AdaptiveSparkPlan" in jplan.nodeName():
        jplan = jplan.initialPlan()  # AQE root hides its children
    carried = []

    def walk(node):
        ch = node.children()
        for i in range(ch.size()):
            c = ch.apply(i)
            if "Exchange" in node.nodeName():
                outs = c.output()
                carried.extend(outs.apply(j) for j in range(outs.size()))
            walk(c)

    walk(jplan)
    return carried

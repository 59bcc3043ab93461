"""The parity gate must exit 1 on driver-hostile result types.

Round 3 shipped 12 red driver rows because DuckDB silently widened
``sum(BIGINT)`` to HUGEINT (int128), which the driver's type-sensitive
value-hash rejects. ``tools/parity.py`` lints for those types; these tests
pin that the lint is a hard GATE (main() returns 1), not a printed warning,
so the class cannot recur silently.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
)

import parity


def test_hostile_oracle_types_flagged():
    probs = parity.driver_hostile_problems(
        ["a", "b"], ["bigint", "bigint"],
        ["a", "b"], ["HUGEINT", "BIGINT"],
    )
    assert len(probs) == 1 and "HUGEINT" in probs[0]
    for t in ("BIGINT[]", "STRUCT(x INT)", "MAP(VARCHAR, INT)"):
        assert parity.driver_hostile_problems(["a"], ["bigint"], ["a"], [t])


def test_hostile_spark_types_flagged():
    for t in ("array<bigint>", "struct<x:int>", "map<string,int>"):
        probs = parity.driver_hostile_problems(["a"], [t], ["a"], ["BIGINT"])
        assert len(probs) == 1 and "spark types" in probs[0]
    assert not parity.driver_hostile_problems(
        ["a"], ["bigint"], ["a"], ["BIGINT"]
    )


def test_hostile_toy_query_exits_1(spark, sf_tiny, monkeypatch):
    """End-to-end: a query whose oracle yields HUGEINT makes main() return 1
    even though rows, schema, and values would otherwise agree."""
    import __spark_entry__ as e

    def toy(spark, sf_dir):
        from debezium_emr_hudi_deltastreamer_sample_spark import catalog

        df = catalog.load_table(spark, sf_dir, "region")
        return df.groupBy().sum("r_regionkey").toDF("s")

    # DuckDB sum(BIGINT) -> HUGEINT: the exact round-3 failure shape.
    monkeypatch.setattr(e, "queries", lambda: {"toy_hostile": toy})
    monkeypatch.setattr(
        e, "oracle_sql", lambda: {"toy_hostile": "SELECT sum(r_regionkey) AS s FROM region"}
    )
    monkeypatch.setenv("SPARK_GRAFT_PARITY_SF_DIR", sf_tiny)
    monkeypatch.setattr(parity, "SF_DIR", sf_tiny)
    assert parity.main(["toy_hostile"]) == 1


def test_get_spark_leaves_running_session_alone(spark):
    """An in-process caller of the session factory (``tools/parity.py
    main()``) gets the running session as it is: its confs are not
    re-applied over the owner's settings."""
    from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

    fan_out = spark.conf.get("spark.sql.shuffle.partitions")
    assert fan_out != "3"
    get_spark(shuffle_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == fan_out

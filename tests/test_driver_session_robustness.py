"""The driver hands queries ITS SparkSession, whose timezone we don't
control; every query must pin UTC semantics itself (tune_session)."""

import pytest

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import all_specs, query


def test_q58_correct_under_non_utc_session(spark):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = {
            r["vehicle_id"]: r["ts_millis"]
            for r in all_specs()["q58_ping_ingest"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect()
        }
        # format-2 (no offset) must parse as UTC regardless of session TZ
        assert rows[104] == 1433147415000
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_table_cache_hit_repins_timezone(spark):
    """Timestamp rendering happens at collect time under the session's
    current TZ, so tune_session must run on cache HITS too — a cached plan
    under a driver-altered timezone would silently shift every rendered
    timestamp (r3 verdict, io/tables.py)."""
    sf_dir = "/root/testdata/sf0.001"
    df = load_table(spark, sf_dir, "orders")  # populate the plan cache
    baseline = [
        str(r)
        for r in df.select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df2 = load_table(spark, sf_dir, "orders")  # cache hit
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        after = [
            str(r)
            for r in df2.select("o_orderkey", "o_orderdate")
            .orderBy("o_orderkey")
            .limit(5)
            .collect()
        ]
        assert after == baseline
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_registry_rejects_non_driver_signature():
    """The driver calls every query as fn(spark, sf_dir); a decorator on a
    helper with any other signature must fail at import, not at run time."""
    with pytest.raises(TypeError, match=r"\(spark, sf_dir\)"):

        @query("q_bad_signature")
        def helper(hourly):
            return hourly

    assert "q_bad_signature" not in all_specs()

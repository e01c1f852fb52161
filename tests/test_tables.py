"""The loaders' µs clock (kdb_spark/tables.py) must not depend on the
session time zone: `events.ts` is TimestampNTZ, a wall-clock value, and
the oracle's ``epoch_us(ts)`` reads it as UTC whatever the session says.
Neither may any query that does date arithmetic on an NTZ column."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from kdb_spark.tables import HOUR_US, events_us, ts_raw_range
from tests.conftest import SF_DIR

ZONES = ("UTC", "America/Los_Angeles", "Asia/Tokyo")


def _in_zone(spark, tz):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", tz)
    return s


def _clock(session, start_us):
    ev = events_us(session, SF_DIR)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    first_hour = ev.filter(ts_raw_range(ev, start_us, start_us + HOUR_US))
    return lo, hi, sorted(r.event_id for r in first_hour.select("event_id").collect())


def test_ts_clock_ignores_session_time_zone(spark):
    utc_s = _in_zone(spark, "UTC")
    start = events_us(utc_s, SF_DIR).agg(F.min("ts_us")).first()[0]
    utc = _clock(utc_s, start)
    assert utc[2], "the first hour must hold rows for the range check to bite"
    assert _clock(_in_zone(spark, "America/Los_Angeles"), start) == utc


# every registry key whose plan turns an NTZ date into epoch µs/s/days
@pytest.mark.parametrize(
    "key",
    [
        "table_profile",
        "agg_hll_merge",
        "sql_ship_priority",
        "sql_waiting_supplier",
        "sql_rapid_reorders",
        "sql_open_order_aging",
        "sql_segment_migration",
        "scan_json",
    ],
)
def test_ntz_date_keys_ignore_session_time_zone(spark, key):
    q = entry.queries()[key]
    rows = {
        tz: sorted(map(tuple, q(_in_zone(spark, tz), SF_DIR).collect()), key=repr)
        for tz in ZONES
    }
    assert rows["UTC"], f"{key} must return rows for the comparison to bite"
    for tz in ZONES[1:]:
        assert rows[tz] == rows["UTC"], f"{key} differs in {tz}"

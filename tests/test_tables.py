"""The loaders' µs clock (kdb_spark/tables.py) must not depend on the
session time zone: `events.ts` is TimestampNTZ, a wall-clock value, and
the oracle's ``epoch_us(ts)`` reads it as UTC whatever the session says."""

from pyspark.sql import functions as F

from kdb_spark.tables import HOUR_US, events_us, ts_raw_range
from tests.conftest import SF_DIR


def _clock(session, start_us):
    ev = events_us(session, SF_DIR)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    first_hour = ev.filter(ts_raw_range(ev, start_us, start_us + HOUR_US))
    return lo, hi, sorted(r.event_id for r in first_hour.select("event_id").collect())


def test_ts_clock_ignores_session_time_zone(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    start = events_us(spark, SF_DIR).agg(F.min("ts_us")).first()[0]
    la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    utc = _clock(spark, start)
    assert utc[2], "the first hour must hold rows for the range check to bite"
    assert _clock(la, start) == utc

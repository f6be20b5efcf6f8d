"""Edge-case pins the DuckDB gate structurally CANNOT catch — shared
semantic bugs where both engines would agree on the wrong answer.

1. Sweep-line inverted intervals (orders_in_flight_daily): an interval
   with e < s (messy non-TPC-H data) must be clamped to zero length,
   not allowed to drive the running count negative.
2. _med2 integer position arithmetic: the doubled-median helper must
   compute middle positions with integer division, matching the oracle
   twin's `//` exactly (not a float divide + truncating cast).
"""

import datetime as dt

from pyspark.sql import functions as F

from datasketches_rust_spark.queries.timeseries import (
    _inflight_from_intervals, _med2)

D = dt.date


def test_inflight_normal_intervals(spark):
    w = spark.createDataFrame(
        [(D(2024, 1, 1), D(2024, 1, 3)),   # covers 1,2,3
         (D(2024, 1, 2), D(2024, 1, 2))],  # covers 2
        "s date, e date")
    got = {r["day"]: r["n_in_flight"]
           for r in _inflight_from_intervals(w).collect()}
    assert got == {D(2024, 1, 1): 1, D(2024, 1, 2): 2, D(2024, 1, 3): 1}


def test_inflight_inverted_interval_clamped_upstream(spark):
    # the query clamps e to greatest(e, s) BEFORE calling the helper;
    # reproduce that contract: an inverted (s=Jan3, e=Jan1) interval
    # becomes the zero-length [Jan3, Jan3] and contributes exactly one
    # covered day — and the running count never goes negative
    raw = spark.createDataFrame(
        [(D(2024, 1, 3), D(2024, 1, 1)),   # inverted
         (D(2024, 1, 1), D(2024, 1, 1))],  # normal single-day
        "s date, e date")
    w = raw.select("s", F.greatest("e", "s").alias("e"))
    got = {r["day"]: r["n_in_flight"]
           for r in _inflight_from_intervals(w).collect()}
    assert got == {D(2024, 1, 1): 1, D(2024, 1, 2): 0, D(2024, 1, 3): 1}
    assert all(v >= 0 for v in got.values())


def test_inflight_unclamped_inverted_goes_negative(spark):
    # documents WHY the clamp exists: without it the -1 delta lands
    # before the +1 and the count dips negative — in both engines, so
    # no oracle could flag it
    w = spark.createDataFrame(
        [(D(2024, 1, 3), D(2024, 1, 1))], "s date, e date")
    got = {r["day"]: r["n_in_flight"]
           for r in _inflight_from_intervals(w).collect()}
    assert min(got.values()) < 0


def test_med2_positions_odd_even(spark):
    df = spark.createDataFrame(
        [([1, 5, 9], 3),          # odd: 2*middle = 10
         ([1, 3, 7, 100], 4)],    # even: 3+7 = 10
        "lst array<long>, n long")
    got = [r[0] for r in
           df.select(_med2(F.col("lst"), F.col("n"))).collect()]
    assert got == [10, 10]

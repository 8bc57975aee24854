"""Tests for the stay-point extraction operator, local and on Spark."""

from __future__ import annotations

import numpy as np

from thymeflow_back_spark.algorithms.staypoints import extract_stays as extract_stays_local
from thymeflow_back_spark.operators.staypoints import extract_stays


def _synthetic_track():
    rnd = np.random.RandomState(42)
    minute = 60_000_000
    t, lon, lat = [], [], []
    # stay A: 25 min at (2.350, 48.857), point every minute, ~10 m jitter
    for i in range(25):
        t.append(i * minute)
        lon.append(2.350 + rnd.uniform(-1e-4, 1e-4))
        lat.append(48.857 + rnd.uniform(-1e-4, 1e-4))
    # movement: 10 points over 10 min heading away (~500 m/min)
    for i in range(10):
        t.append((25 + i) * minute)
        lon.append(2.350 + 0.005 * (i + 1))
        lat.append(48.857 + 0.004 * (i + 1))
    # stay B: 20 min at the destination
    for i in range(20):
        t.append((35 + i) * minute)
        lon.append(2.400 + rnd.uniform(-1e-4, 1e-4))
        lat.append(48.897 + rnd.uniform(-1e-4, 1e-4))
    acc = [15.0] * len(t)
    return t, lon, lat, acc


def test_extract_stays_local():
    t, lon, lat, acc = _synthetic_track()
    stays = extract_stays_local(
        np.array(t, dtype=np.int64), np.array(lon), np.array(lat), np.array(acc)
    )
    assert len(stays) == 2
    a, b = stays
    assert abs(a.lon - 2.350) < 1e-3 and abs(a.lat - 48.857) < 1e-3
    assert abs(b.lon - 2.400) < 1e-3 and abs(b.lat - 48.897) < 1e-3
    assert a.end_us - a.start_us >= 15 * 60 * 1_000_000


def test_extract_stays_spark(spark):
    t, lon, lat, acc = _synthetic_track()
    rows = [(1, int(ti), float(lo), float(la), float(ac)) for ti, lo, la, ac in zip(t, lon, lat, acc)]
    # second user: same track shifted — groups must not bleed into each other
    rows += [(2, int(ti) + 7, float(lo) + 1.0, float(la), float(ac)) for ti, lo, la, ac in zip(t, lon, lat, acc)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lon double, lat double, accuracy_m double")
    stays = extract_stays(df).collect()
    by_user = {}
    for s in stays:
        by_user.setdefault(s.user_id, []).append(s)
    assert len(by_user[1]) == 2 and len(by_user[2]) == 2
    assert abs(sorted(by_user[2], key=lambda s: s.start_us)[0].lon - 3.350) < 1e-3

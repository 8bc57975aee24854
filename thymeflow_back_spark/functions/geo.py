"""Geodesic scalar functions as JVM-side column expressions.

Reference surface: the Haversine point metric
(spatial/geographic/metric/models/WGS84SphereHaversinePointMetric.scala),
used by LocationEventEnricher.scala:89-95 for the ≤1 km predicate. It is
pure column arithmetic, so it stays inside whole-stage codegen with no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (spherical earth, radius 6371 km)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))

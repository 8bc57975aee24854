"""Geodesic scalar functions as JVM-side column expressions.

Reference surface: Haversine point metric
(spatial/geographic/metric/models/WGS84SphereHaversinePointMetric.scala, used
by LocationEventEnricher.scala:89-95 for the ≤1 km predicate), the WGS84
ellipsoid metric (the reference's Vincenty/Karney-backed
WGS84GeodeticPointMetric; ``vincenty_m`` here). Everything is pure column
arithmetic — Vincenty's iteration is unrolled a fixed number of times
(λ converges quadratically; 8 unrolls ≈ libgeodesic precision for
non-antipodal points), so even the ellipsoid metric stays inside
whole-stage codegen with no UDF.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves the karney_m UDF's type hints
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0

# WGS84 ellipsoid
_WGS84_A = 6378137.0
_WGS84_B = 6356752.314245
_WGS84_F = 1.0 / 298.257223563


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (spherical earth, radius 6371 km)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def vincenty_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column, iterations: int = 8) -> Column:
    """WGS84 ellipsoid inverse distance (Vincenty 1975).

    The λ fixed-point runs as ``F.aggregate`` over a length-``iterations``
    sequence — a LINEAR-size expression (naive unrolling duplicates the
    whole subtree per step and explodes exponentially), still JVM-side
    with no UDF. Identical points return 0; antipodal near-failure cases
    keep the last iterate (Vincenty's known limitation — the reference's
    Karney-style metric converges there too; within meters, fine for the
    enrichment predicates that consume it)."""
    u1 = F.atan(F.lit(1 - _WGS84_F) * F.tan(F.radians(lat1)))
    u2 = F.atan(F.lit(1 - _WGS84_F) * F.tan(F.radians(lat2)))
    big_l = F.radians(lon2 - lon1)
    sin_u1, cos_u1 = F.sin(u1), F.cos(u1)
    sin_u2, cos_u2 = F.sin(u2), F.cos(u2)

    def step(lam: Column, _x: Column) -> Column:
        sin_lam, cos_lam = F.sin(lam), F.cos(lam)
        sin_sigma = F.sqrt(
            (cos_u2 * sin_lam) * (cos_u2 * sin_lam)
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
            * (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
        )
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = F.atan2(sin_sigma, cos_sigma)
        sin_alpha = F.when(sin_sigma == 0, F.lit(0.0)).otherwise(
            cos_u1 * cos_u2 * sin_lam / sin_sigma
        )
        cos_sq_alpha = 1 - sin_alpha * sin_alpha
        cos_2sm = F.when(cos_sq_alpha == 0, F.lit(0.0)).otherwise(
            cos_sigma - 2 * sin_u1 * sin_u2 / cos_sq_alpha
        )
        c = F.lit(_WGS84_F / 16) * cos_sq_alpha * (4 + F.lit(_WGS84_F) * (4 - 3 * cos_sq_alpha))
        return big_l + (1 - c) * F.lit(_WGS84_F) * sin_alpha * (
            sigma + c * sin_sigma * (cos_2sm + c * cos_sigma * (-1 + 2 * cos_2sm * cos_2sm))
        )

    def finish(lam: Column) -> Column:
        # lam is a lambda VARIABLE here — a leaf reference — so the many
        # mentions below don't duplicate the iterated subtree (they would
        # if this ran outside the aggregate's finish function, and the
        # resulting tree stalls Catalyst for minutes)
        sin_lam, cos_lam = F.sin(lam), F.cos(lam)
        sin_sigma = F.sqrt(
            (cos_u2 * sin_lam) * (cos_u2 * sin_lam)
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
            * (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
        )
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = F.atan2(sin_sigma, cos_sigma)
        sin_alpha = F.when(sin_sigma == 0, F.lit(0.0)).otherwise(
            cos_u1 * cos_u2 * sin_lam / sin_sigma
        )
        cos_sq_alpha = 1 - sin_alpha * sin_alpha
        cos_2sm = F.when(cos_sq_alpha == 0, F.lit(0.0)).otherwise(
            cos_sigma - 2 * sin_u1 * sin_u2 / cos_sq_alpha
        )
        u_sq = cos_sq_alpha * F.lit((_WGS84_A**2 - _WGS84_B**2) / _WGS84_B**2)
        a_term = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
        b_term = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
        delta_sigma = (
            b_term
            * sin_sigma
            * (
                cos_2sm
                + b_term
                / 4
                * (
                    cos_sigma * (-1 + 2 * cos_2sm * cos_2sm)
                    - b_term
                    / 6
                    * cos_2sm
                    * (-3 + 4 * sin_sigma * sin_sigma)
                    * (-3 + 4 * cos_2sm * cos_2sm)
                )
            )
        )
        dist = F.lit(_WGS84_B) * a_term * (sigma - delta_sigma)
        return F.when(sin_sigma == 0, F.lit(0.0)).otherwise(dist)

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(iterations)), big_l.cast("double"), step, finish
    )


def karney_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """WGS84 geodesic distance via the Karney formulation (exact integrals,
    algorithms/geodesic.py) — the reference's most accurate metric
    (KarneyGeodeticCalculator.scala wraps GeographicLib). Arrow-batched
    pandas UDF: per-row root-finding cannot be a column expression; use
    ``vincenty_m`` (mm-accurate, codegen-friendly) on hot paths and this
    where antipodal robustness or GeographicLib parity matters."""
    from pyspark.sql.functions import pandas_udf

    from ..algorithms.geodesic import karney_inverse_m

    @pandas_udf("double")
    def _karney(a1: pd.Series, o1: pd.Series, a2: pd.Series, o2: pd.Series) -> pd.Series:
        return pd.Series(
            [
                karney_inverse_m(float(w), float(x), float(y), float(z))
                for w, x, y, z in zip(a1, o1, a2, o2)
            ]
        )

    return _karney(lat1, lon1, lat2, lon2)

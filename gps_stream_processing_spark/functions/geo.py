"""Geo scalar functions (SURVEY §2.6) — pure column expressions.

Everything here compiles into whole-stage codegen (no Python UDFs):
at 100 TB these run vectorized inside the JVM on every executor.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0
KNOTS_TO_KMH = 1.852  # the reference's spdknots/spdkmph pair (class.nmea.parser.php:324-326)


def degree2decimal(ddmm: Column, hemisphere: Column, prec: int = 6) -> Column:
    """Sexagesimal ``ddmm.mmmm`` → signed decimal degrees.

    Reference: ``degree2decimal`` (class.nmea.parser.php:339-351):
    ``deg = int(x/100); dec = deg + (x - deg*100)/60``; negated for
    S/W; formatted to 6 decimals (``:349``). We keep DoubleType and
    ``round(_, 6)`` (SURVEY §4.2 parity note). Golden:
    ``4807.038, N → 48.12722`` (``:333``).

    The floor stays in double, as DuckDB's ``floor(double)`` does:
    Spark's ``floor`` returns a bigint, which saturates at ``2**63``, so
    it runs only where ``|q| < 2**52``. Every larger double is already an
    integer and is its own floor.
    """
    q = ddmm / 100
    deg = F.when(F.abs(q) < F.lit(float(2**52)), F.floor(q).cast("double")).otherwise(q)
    dec = deg + (ddmm - deg * 100) / F.lit(60.0)
    signed = F.when(F.upper(hemisphere).isin("S", "W"), -dec).otherwise(dec)
    return F.round(signed, prec)


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km — the canonical GPS-analytics scalar
    (SURVEY §2.6 q_haversine). Pure ``radians/sin/cos/asin/sqrt``
    column arithmetic; DuckDB-expressible with the same formula."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def bearing_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Initial great-circle bearing in degrees [0, 360)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlon = F.radians(lon2 - lon1)
    y = F.sin(dlon) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    return (F.degrees(F.atan2(y, x)) + 360.0) % 360.0


def knots_to_kmh(knots: Column) -> Column:
    return knots * F.lit(KNOTS_TO_KMH)

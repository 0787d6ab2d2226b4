"""Geospatial operators for the flight domain: haversine distance and
cell-bucketized proximity self-join.

"Which aircraft were within D km of each other" is the flight-ops
companion query to the state pipeline (reference domain:
src/plugins/scripts/*/transform.py tracks longitude/latitude per state
vector). The naive formulation is a cross join with a distance
predicate — Spark plans it as a nested loop, quadratic in the fleet.
The operator here is the standard spatial-binning reduction: bucket
every position into a distance-sized grid cell, self-join on the 3×3
cell neighborhood (an EQUI-join), and verify candidates with the exact
haversine — the same bucket-then-verify discipline as the LSH dedup and
interval-join operators in this engine.

All math is plain column expressions (sin/cos/atan2 inside codegen);
no Python, no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088
KM_PER_DEG_LAT = 111.32
# proximity_pairs guarantees no missed pairs up to this |latitude|: the
# longitude cell width is sized for the worst-case (narrowest) parallel
MAX_ABS_LAT_DEG = 70.0


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km between two (degree) coordinates —
    a single codegen'd expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    )
    return 2 * EARTH_RADIUS_KM * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def proximity_pairs(
    df: DataFrame,
    max_km: float,
    max_candidates_per_cell: int | None = None,
) -> DataFrame:
    """All unordered pairs of rows within ``max_km`` great-circle km —
    via the grid-cell equi-join, never a cross join.

    Cell sizing: latitude cells are ``max_km`` tall; longitude cells
    are ``max_km`` wide AT ``MAX_ABS_LAT_DEG`` (the narrowest parallel
    served), so two points within ``max_km`` can never sit more than
    one cell apart in either axis for |lat| ≤ 70° — the 3×3 neighborhood
    probe is complete (rows beyond ±70° are rejected with a typed error
    rather than silently dropped from pairs).

    Scale: each row expands to its 9 candidate cells map-side; the
    self-join is an equi-join on the cell id (shuffle keyed by cell —
    dense airspace cells are the natural skew, which AQE splits);
    exact haversine verification runs on candidates only. The
    (id_a < id_b) cut plus the build side keeping ONLY its own cell
    de-duplicates pairs without a distinct. Known limitation: pairs
    straddling the ±180° antimeridian are not matched (their lon cells
    are grid-distant); route polar/antimeridian traffic through a
    shifted-grid second pass if that airspace matters.

    ``max_candidates_per_cell`` (the 100 TB dense-airspace profile):
    qualifying pairs grow QUADRATICALLY with per-cell density — at
    fleet scale a single congested terminal area can dominate the
    output with pairs nobody reads. When set, the build side keeps
    only the ``k`` lowest-id rows per home cell (a ``row_number()``
    prune — its cell-keyed sort shares the join's exchange, so the cap
    adds no extra shuffle) and the output is a DETERMINISTIC subset:
    every reported pair has ``id_b`` among its cell's k lowest ids, so
    per-cell output is bounded by ~9·k·|cell| instead of |cell|².
    Default ``None`` keeps the operator exact, as the oracle-verified
    catalog query requires.
    """
    d_lat = max_km / KM_PER_DEG_LAT
    d_lon = max_km / (
        KM_PER_DEG_LAT * math.cos(math.radians(MAX_ABS_LAT_DEG))
    )
    # the guard IS the latitude every downstream expression reads —
    # a dropped side-column would be pruned before the error could fire
    lat_guarded = F.when(
        F.abs(F.col("latitude")) <= MAX_ABS_LAT_DEG, F.col("latitude")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"proximity_pairs: |latitude| must be <= {MAX_ABS_LAT_DEG}, got "
                ),
                F.col("latitude").cast("string"),
            )
        )
    )
    base = df.select(
        F.col("icao24"),
        lat_guarded.alias("__lat"),
        F.col("longitude").alias("__lon"),
    ).select(
        "icao24",
        "__lat",
        "__lon",
        F.floor(F.col("__lat") / d_lat).cast("long").alias("__ci"),
        F.floor(F.col("__lon") / d_lon).cast("long").alias("__cj"),
    )
    probe = base.select(
        F.col("icao24").alias("id_a"),
        F.col("__lat").alias("__lat_a"),
        F.col("__lon").alias("__lon_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__ci") + di).alias("ci"),
                        (F.col("__cj") + dj).alias("cj"),
                    )
                    for di in (-1, 0, 1)
                    for dj in (-1, 0, 1)
                ]
            )
        ).alias("__cell"),
    ).select("id_a", "__lat_a", "__lon_a", "__cell.ci", "__cell.cj")
    build = base.select(
        F.col("icao24").alias("id_b"),
        F.col("__lat").alias("__lat_b"),
        F.col("__lon").alias("__lon_b"),
        F.col("__ci").alias("ci"),
        F.col("__cj").alias("cj"),
    )
    if max_candidates_per_cell is not None:
        from pyspark.sql.window import Window

        w_cell = Window.partitionBy("ci", "cj").orderBy("id_b")
        build = (
            build.withColumn("__rn", F.row_number().over(w_cell))
            .filter(F.col("__rn") <= max_candidates_per_cell)
            .drop("__rn")
        )
    return (
        probe.join(build, ["ci", "cj"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "distance_km",
            F.round(
                haversine_km(
                    F.col("__lat_a"),
                    F.col("__lon_a"),
                    F.col("__lat_b"),
                    F.col("__lon_b"),
                ),
                3,
            ),
        )
        .filter(F.col("distance_km") <= max_km)
        .select("id_a", "id_b", "distance_km")
    )


def track_lengths(df: DataFrame, tie_col: str | None = None) -> DataFrame:
    """Distance flown per track: the sum of consecutive-fix haversine
    legs, ordered by time — the utilization metric the reference domain
    exists to compute (km flown per aircraft from its position stream).

    Returns (id, n_fixes, n_legs, track_km). Ordering ties break by
    ``tie_col`` when given so replays are deterministic.

    Scale: one shuffle on the track id; each leg is a lag() pair inside
    the per-track sort — no self-join, no collect; per-track state is
    the track itself (the same bound as any per-key window).
    """
    from pyspark.sql.window import Window

    order = [F.col("ts")] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy("icao24").orderBy(*order)
    leg = haversine_km(
        F.lag("latitude").over(w),
        F.lag("longitude").over(w),
        F.col("latitude"),
        F.col("longitude"),
    )
    return (
        df.withColumn("__leg", leg)
        .groupBy("icao24")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fixes"),
            F.count("__leg").cast("bigint").alias("n_legs"),
            F.round(F.coalesce(F.sum("__leg"), F.lit(0.0)), 3).alias(
                "track_km"
            ),
        )
    )

"""Spatial filter + distance sort (reference Q18 / T5).

The reference indexes a reserved ``__location`` WKT field into a
geohash prefix tree and accepts a `spatial-filter` on search
(src/bzzz/index_spatial.clj:19-32, applied at
src/bzzz/index_search.clj:275-286), plus a distance value source for
sorting (src/bzzz/expr.clj:19-23; tests core_test.clj:739-782).

Spark-first shape: locations are plain ``lat``/``lon`` DOUBLE columns
on the docs table — no sidecar tree.  A circle filter is a haversine
Column expression (whole-stage codegen); a bbox pre-filter gives the
prefix-tree's cheap rejection and, on a table sorted or partitioned by
a space-filling order (e.g. geohash bucketing at write time), becomes
parquet min/max pruning — the Iceberg analog of the reference's
geohash tree.  Distance sort reuses the same expression through
``sorted_search``.

Supported shapes: circle (point + radius, the reference's
``Intersects(BUFFER(POINT(lon lat), r))``) and bbox.  General WKT
polygons are out of scope (the reference inherits them from
Spatial4J; the north rule excludes spatial entirely — this module is
the documented-for-completeness subset).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371008.8  # mean Earth radius


def haversine_m(
    lat1: Column, lon1: Column, lat2: Column | float, lon2: Column | float
) -> Column:
    """Great-circle distance in meters, entirely JVM-side."""
    lat2 = F.lit(float(lat2)) if not isinstance(lat2, Column) else lat2
    lon2 = F.lit(float(lon2)) if not isinstance(lon2, Column) else lon2
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _bbox_cond(lat: Column, lon: Column, clat: float, clon: float,
               radius_m: float) -> Column:
    """Cheap bounding-box pre-filter around a circle — the codegen'd
    stand-in for the reference's geohash-tree rejection; on a
    spatially-bucketed table these range predicates prune row groups.

    Correct for any radius: the latitude band always bounds the circle;
    the longitude window uses the proper dlon = asin(sin(r/R)/cos(lat))
    and is DROPPED when the circle reaches a pole, wraps more than a
    hemisphere, or crosses the antimeridian (conservative — the exact
    haversine filter downstream stays authoritative)."""
    ang = radius_m / EARTH_RADIUS_M  # angular radius
    dlat = math.degrees(ang)
    cond = lat.between(max(clat - dlat, -90.0), min(clat + dlat, 90.0))
    if clat - dlat > -90.0 and clat + dlat < 90.0 and ang < math.pi / 2:
        s = math.sin(ang) / math.cos(math.radians(clat))
        if s < 1.0:
            dlon = math.degrees(math.asin(s))
            if clon - dlon >= -180.0 and clon + dlon <= 180.0:
                cond = cond & lon.between(clon - dlon, clon + dlon)
    return cond


def spatial_filter_search(
    index,
    query,
    center: tuple[float, float],
    radius_m: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    size: int = 20,
    sort_by_distance: bool = False,
) -> DataFrame:
    """Search restricted to docs within ``radius_m`` of ``center``
    (Q18's circle intersect), optionally ordered by distance (T5).

    Returns (docid, score, distance_m) in (score desc, docid) order, or
    (distance_m asc, docid) when sort_by_distance.  The spatial
    predicate is non-scoring (a Lucene Filter), matching the
    reference's semantics."""
    from bzzz_spark.query.executor import execute

    clat, clon = center
    matched = execute(index, query)
    docs = index.docs.select("docid", lat_col, lon_col)
    lat, lon = F.col(lat_col), F.col(lon_col)
    dist = haversine_m(lat, lon, clat, clon)
    out = (
        matched.join(docs, "docid")
        .filter(_bbox_cond(lat, lon, clat, clon, radius_m))
        .withColumn("distance_m", dist)
        .filter(F.col("distance_m") <= radius_m)
        .select("docid", "score", "distance_m")
    )
    order = (
        [F.col("distance_m").asc(), F.col("docid").asc()]
        if sort_by_distance
        else [F.col("score").desc(), F.col("docid").asc()]
    )
    return out.orderBy(*order).limit(size)

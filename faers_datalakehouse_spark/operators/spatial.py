"""Grid-bucketed spatial join — radius search without a cross product.

The classic geospatial primitive (PostGIS ``ST_DWithin``, Sedona's
distance join) re-expressed as Spark-native equi-joins: snap every point
to a square grid cell whose side equals the search radius, replicate the
BUILD side to its 3x3 cell neighborhood (a bounded 9x expansion), and
equi-join on the cell id — every true pair lands in exactly one
(dx, dy) bucket, so no dedup pass is needed — then keep pairs whose
EXACT integer squared distance is within radius^2.

Scale shape (100 TB): the join is a plain shuffle (or broadcast, when
the build side is a small dimension) on the composite cell key; candidate
volume per probe point is O(rho * radius^2) — the local point density —
independent of total data size. No window, no cross join, no driver
state. Skewed cells (urban hot spots) are ordinary join skew and fall to
AQE skew-join splitting because the join is a vanilla equi-join.

Coordinates here are DERIVED deterministically (engine-portable
md5-prefix hash of the entity key, modulo a 1,000 km extent at 1 m
resolution) because the TPC-H-ish testdata carries no geography; the
operator itself only sees (id, x, y) integer columns, so a real
lat/lon source plugs in by supplying its own projection to integer
meters (e.g. a Web-Mercator snap).

Cross-engine exactness: positions are 60-bit md5-prefix integers mod
extent (same bigints in DuckDB via ``('0x' || substr(md5(..),1,15))::
BIGINT``); distances compare as int64 squares — no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table

EXTENT_M = 1_000_000  # 1,000 km square world at 1 m resolution


def _hash_coord(key: Column, axis: str) -> Column:
    """Deterministic coordinate in [0, EXTENT_M): md5-prefix int64 of
    ``<key><axis>`` mod extent — portable to DuckDB bit-for-bit."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(axis))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % F.lit(EXTENT_M)


def derive_points(df: DataFrame, key_col: str) -> DataFrame:
    """Attach deterministic integer (x_m, y_m) coordinates to each row."""
    k = F.col(key_col)
    return df.select(
        k.alias("pid"),
        _hash_coord(k, "x").alias("x_m"),
        _hash_coord(k, "y").alias("y_m"),
    )


def radius_join(
    probe: DataFrame, build: DataFrame, radius_m: int
) -> DataFrame:
    """All (probe, build) pairs within ``radius_m``: grid-cell blocking
    with cell side == radius, 3x3 build-side replication, exact integer
    distance filter. Inputs are (pid, x_m, y_m) frames from
    :func:`derive_points`; output is (probe_id, build_id, dist2_m2).
    """
    r = int(radius_m)
    cell = lambda c: (c / F.lit(r)).cast("long")  # noqa: E731
    p = probe.select(
        F.col("pid").alias("probe_id"),
        F.col("x_m").alias("px"),
        F.col("y_m").alias("py"),
        cell(F.col("x_m")).alias("cx"),
        cell(F.col("y_m")).alias("cy"),
    )
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    b = (
        build.select(
            F.col("pid").alias("build_id"),
            F.col("x_m").alias("bx"),
            F.col("y_m").alias("by"),
            cell(F.col("x_m")).alias("bcx"),
            cell(F.col("y_m")).alias("bcy"),
        )
        .withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "build_id",
            "bx",
            "by",
            (F.col("bcx") + F.col("dx")).alias("cx"),
            (F.col("bcy") + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))
    return (
        p.join(b, ["cx", "cy"])
        .where(dist2 <= F.lit(r * r))
        .select(
            "probe_id", "build_id", dist2.cast("long").alias("dist2_m2")
        )
    )


def spatial_radius_pairs(
    spark: SparkSession, sf_dir: str, radius_m: int = 50_000
) -> DataFrame:
    """Driver surface: customers within ``radius_m`` of a supplier —
    the 'assign demand points to nearby facilities' query. Ordered
    (customer, supplier, exact squared distance)."""
    cust = derive_points(
        read_table(spark, sf_dir, "customer"), "c_custkey"
    )
    supp = derive_points(
        read_table(spark, sf_dir, "supplier"), "s_suppkey"
    )
    return (
        radius_join(cust, supp, radius_m)
        .select(
            F.col("probe_id").alias("c_custkey"),
            F.col("build_id").alias("s_suppkey"),
            "dist2_m2",
        )
        .orderBy("c_custkey", "s_suppkey")
    )


def spatial_oracle_sql(radius_m: int = 50_000) -> str:
    """DuckDB twin: same derived coordinates, direct distance join (the
    oracle may be quadratic; the Spark plan must not be)."""
    r = int(radius_m)
    return f"""
WITH cust AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 15))::BIGINT
           % {EXTENT_M} AS x_m,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 15))::BIGINT
           % {EXTENT_M} AS y_m
  FROM customer
), supp AS (
  SELECT s_suppkey AS id,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'x'), 1, 15))::BIGINT
           % {EXTENT_M} AS x_m,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'y'), 1, 15))::BIGINT
           % {EXTENT_M} AS y_m
  FROM supplier
)
SELECT c.id AS c_custkey, s.id AS s_suppkey,
       (c.x_m - s.x_m) * (c.x_m - s.x_m)
       + (c.y_m - s.y_m) * (c.y_m - s.y_m) AS dist2_m2
FROM cust c JOIN supp s
  ON (c.x_m - s.x_m) * (c.x_m - s.x_m)
     + (c.y_m - s.y_m) * (c.y_m - s.y_m) <= {r * r}
ORDER BY c_custkey, s_suppkey
"""

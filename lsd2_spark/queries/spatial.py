"""Spatial operator surface over the driver's relational testdata.

The testdata has no native sky positions, so deterministic positions
are **derived from integer keys** with pure integer arithmetic — the
exact same formula is expressible in Spark and ANSI SQL, which makes
the spatial operators oracle-checkable end-to-end:

    ra  = (key * 9973 % 360000) / 1000.0          ∈ [0, 360)
    dec = (key * 7919 % 160000) / 1000.0 - 80.0   ∈ [-80, 80)

Cone search semantics follow the reference (hipscat/catalog.py:65-141,
hipscat/dask_utils.py:330-364): great-circle distance to a fixed
center, keep rows with dist < radius, append the distance column.
Distances are rounded to 1e-6 deg in BOTH engines so JVM/libm trig
ULP differences cannot flip the value hash.

The catalog-backed cone search (with real HEALPix partition pruning)
lives in lsd2_spark.catalog; this module exercises the same distance
predicate through the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lsd2_spark.functions.numeric import round6
from lsd2_spark.functions.spherical import gc_dist, gc_dist_sql
from lsd2_spark.queries import load_table, register

__all__ = ["derive_ra", "derive_dec", "derive_sql", "CONE"]


def derive_ra(key: Column) -> Column:
    return (key * 9973 % 360000) / 1000.0


def derive_dec(key: Column) -> Column:
    return (key * 7919 % 160000) / 1000.0 - 80.0


def derive_sql(key: str) -> tuple[str, str]:
    return (
        f"({key} * 9973 % 360000) / 1000.0",
        f"({key} * 7919 % 160000) / 1000.0 - 80.0",
    )


# golden cone query (center/radius chosen to select a non-trivial subset)
CONE = {"ra": 45.0, "dec": 10.0, "radius": 15.0}


def q20_cone_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        derive_ra(F.col("l_orderkey")).alias("ra"),
        derive_dec(F.col("l_orderkey")).alias("dec"),
    )
    dist = gc_dist(F.col("ra"), F.col("dec"), CONE["ra"], CONE["dec"])
    return (
        df.withColumn("_dist", round6(dist))
        .filter(F.col("_dist") < CONE["radius"])
    )


_ra_sql, _dec_sql = derive_sql("l_orderkey")
register(
    "q20_cone_search",
    q20_cone_search,
    f"""
    SELECT * FROM (
      SELECT l_orderkey, l_linenumber,
             {_ra_sql} AS ra, {_dec_sql} AS dec,
             FLOOR(({gc_dist_sql(_ra_sql, _dec_sql, str(CONE["ra"]), str(CONE["dec"]))}) * 1000000.0 + 0.5) / 1000000.0 AS _dist
      FROM lineitem) t
    WHERE _dist < {CONE["radius"]}
    """,
)


# ---------------------------------------------------------------------------
# Cross-match kNN through the real cogroup kernel, oracle-checked.
# Left = customers, right = parts, both at derived positions.
# ---------------------------------------------------------------------------

XMATCH_K = 3
XMATCH_DTHRESH = 2.0
_XMATCH_ORDER = 2  # coverage-map order for the ad-hoc catalogs


def q21_crossmatch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lsd2_spark import healpix as hpx
    from lsd2_spark.operators.crossmatch import crossmatch_dataframes

    left = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("left_id"),
        derive_ra(F.col("c_custkey")).alias("ra"),
        derive_dec(F.col("c_custkey")).alias("dec"),
    )
    right = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("right_id"),
        derive_ra(F.col("p_partkey")).alias("ra"),
        derive_dec(F.col("p_partkey")).alias("dec"),
    )

    # ad-hoc coverage map: full sky at the cell order — costs nothing
    # extra (empty cells produce no kernel work) and avoids two
    # pre-jobs just to discover occupancy
    full_sky = {_XMATCH_ORDER: list(range(hpx.npix(_XMATCH_ORDER)))}

    out = crossmatch_dataframes(
        left,
        right,
        full_sky,
        full_sky,
        l_ra="ra",
        l_dec="dec",
        l_id="left_id",
        r_ra="ra",
        r_dec="dec",
        r_id="right_id",
        n_neighbors=XMATCH_K,
        dthresh=XMATCH_DTHRESH,
        left_name="l",
        right_name="r",
    )
    return out.select(
        F.col("l_left_id").alias("left_id"),
        F.col("r_right_id").alias("right_id"),
        round6(F.col("_DIST")).alias("_dist"),
    )


_lra, _ldec = derive_sql("c_custkey")
_rra, _rdec = derive_sql("p_partkey")
register(
    "q21_crossmatch_knn",
    q21_crossmatch_knn,
    f"""
    WITH l AS (SELECT c_custkey AS left_id, {_lra} AS ra, {_ldec} AS dec FROM customer),
         r AS (SELECT p_partkey AS right_id, {_rra} AS ra, {_rdec} AS dec FROM part),
         pairs AS (
           SELECT l.left_id, r.right_id,
                  {gc_dist_sql("l.ra", "l.dec", "r.ra", "r.dec")} AS d
           -- a pair's angular distance is at least its declination
           -- difference, so the band (widened by 1e-6 deg against
           -- rounding) skips only pairs the d filter below rejects;
           -- it makes this an inequality join instead of |l| x |r|
           FROM l JOIN r
             ON r.dec BETWEEN l.dec - {XMATCH_DTHRESH + 1e-6}
                          AND l.dec + {XMATCH_DTHRESH + 1e-6}
         ),
         ranked AS (
           SELECT left_id, right_id, d,
                  ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY d, right_id) AS rn
           FROM pairs WHERE d < {XMATCH_DTHRESH}
         )
    SELECT left_id, right_id, FLOOR(d * 1000000.0 + 0.5) / 1000000.0 AS _dist
    FROM ranked WHERE rn <= {XMATCH_K}
    """,
)

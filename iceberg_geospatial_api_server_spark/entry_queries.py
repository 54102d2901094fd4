"""Query registry: SURVEY.md §2 operators → (Spark callable, DuckDB oracle).

Conventions keeping the driver's hash-compare green:
* every computed column aliased identically on both sides
* float aggregates rounded (4dp) on both sides
* timestamps compared as epoch micros/seconds BIGINT
* LIMIT/top-k queries carry explicit deterministic tiebreakers
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.sources.synthetic import (
    CUST_X as _CUST_X,
    CUST_Y as _CUST_Y,
    LI_X as _SYN_LI_X,
    LI_Y as _SYN_LI_Y,
)

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from iceberg_geospatial_api_server_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


# ===========================================================================
# E. Relational analytics
# ===========================================================================


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q1_pricing_summary,
    )

    return q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


@_q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
             AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q3_shipping_priority,
    )

    return q3_shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@_q(
    "q5_local_supplier",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q5_local_supplier_volume,
    )

    return q5_local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@_q(
    "top3_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def top3_orders(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        top_k_per_group,
    )

    return top_k_per_group(
        _t(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        "o_orderpriority",
        "o_totalprice",
        3,
        "o_orderkey",
    )


@_q(
    "events_windowed_agg",
    """
    SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600 AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ev_window(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_windowed_agg,
    )

    return events_windowed_agg(_t(spark, sf_dir, "events"), minutes=60)


@_q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           CAST(FLOOR(epoch_us(MIN(ts)) / 1000000) AS BIGINT) AS session_start,
           CAST(FLOOR(epoch_us(MAX(ts)) / 1000000) AS BIGINT) AS session_end,
           ROUND(SUM(value), 4) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def ev_sessions(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)


@_q(
    "events_session_overlap",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ), sess AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(MIN(ts)) / 1000000) AS BIGINT) AS st,
             CAST(FLOOR(epoch_us(MAX(ts)) / 1000000) AS BIGINT) AS en
      FROM s GROUP BY user_id, session_seq
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(LEAST(a.en, b.en) - GREATEST(a.st, b.st)) AS BIGINT)
             AS overlap_seconds
    FROM sess a JOIN sess b
      ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
    ORDER BY user_a, user_b
    """,
)
def events_session_overlap_q(spark, sf_dir):
    """Concurrent-session detection: which user pairs had overlapping
    sessions, how many, for how long — an INTERVAL OVERLAP JOIN (the
    range-join shape Spark lacks natively), bucketed on a time grid so
    it can never go cartesian; the oracle runs DuckDB's native range
    self-join over identically-derived sessions. All-integer outputs
    (epoch-second picks/sums)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        interval_overlap_join,
        sessionize,
    )

    sess = sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_start").alias("st_a"),
        F.col("session_end").alias("en_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_start").alias("st_b"),
        F.col("session_end").alias("en_b"),
    )
    return (
        interval_overlap_join(a, b, "st_a", "en_a", "st_b", "en_b")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_overlaps"),
            F.sum(
                F.least("en_a", "en_b") - F.greatest("st_a", "st_b")
            )
            .cast("long")
            .alias("overlap_seconds"),
        )
        .orderBy("user_a", "user_b")
    )


@_q(
    "asof_join_events_orders",
    """
    SELECT e.event_id, e.user_id,
           epoch_us(e.ts) AS event_ts,
           o.o_orderkey AS asof_orderkey,
           o.o_totalprice AS asof_totalprice
    FROM events e LEFT JOIN orders o ON o.o_orderkey = (
        SELECT o2.o_orderkey FROM orders o2
        WHERE o2.o_custkey = e.user_id AND o2.o_orderdate <= e.ts
        ORDER BY o2.o_orderdate DESC, o2.o_orderkey DESC LIMIT 1)
    """,
)
def asof(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        asof_join_events_orders,
    )

    return asof_join_events_orders(
        _t(spark, sf_dir, "events"), _t(spark, sf_dir, "orders")
    )


@_q(
    "events_pivot",
    """
    SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'error') AS error
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def ev_pivot(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import events_pivot

    return events_pivot(_t(spark, sf_dir, "events"))


@_q(
    "orders_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def o_rollup(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import orders_rollup

    return orders_rollup(_t(spark, sf_dir, "orders"))


@_q(
    "events_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           ROUND(SUM(value), 4) AS total_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY user_id HAVING COUNT(*) >= 3
    """,
)
def ev_user_stats(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import user_stats

    return user_stats(_t(spark, sf_dir, "events"))


# ===========================================================================
# C. Geospatial (coordinates derived via sources.synthetic — identical SQL
#    expressions on both sides, see that module's docstring)
# ===========================================================================

_LI_PTS = """
    (SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
            (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
            (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
     FROM lineitem)
"""


@_q(
    "geo_knn",
    f"""
    SELECT l_orderkey, l_linenumber, ROUND(SQRT(x*x + y*y), 6) AS dist
    FROM {_LI_PTS} p
    ORDER BY SQRT(x*x + y*y), l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def geo_knn(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import knn
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_points

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    out = knn(pts, "x", "y", 0.0, 0.0, 10, id_cols=["l_orderkey", "l_linenumber"])
    return out.select(
        "l_orderkey", "l_linenumber", F.round("dist", 6).alias("dist")
    )


@_q(
    "geo_dwithin",
    f"""
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(x*x + y*y), 6) AS dist
    FROM {_LI_PTS} p
    WHERE SQRT(x*x + y*y) < 25.0
    """,
)
def geo_dwithin(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import dwithin
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_points

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    out = dwithin(pts, "x", "y", 0.0, 0.0, 25.0)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("dist", 6).alias("dist")
    )


@_q(
    "geo_grid_aggregate",
    f"""
    SELECT (FLOOR(x / 10.0) + 0.5) * 10.0 AS x,
           (FLOOR(y / 10.0) + 0.5) * 10.0 AS y,
           COUNT(*) AS feature_count
    FROM {_LI_PTS} p
    GROUP BY FLOOR(x / 10.0), FLOOR(y / 10.0)
    """,
)
def geo_grid_agg(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import grid_aggregate
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_points

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return grid_aggregate(pts, "x", "y", 10.0)


@_q(
    "geo_extent",
    f"""
    SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax
    FROM {_LI_PTS} p
    """,
)
def geo_extent(spark, sf_dir):
    """Table extent off the PERSISTED bbox layer (VERDICT r4 item 5):
    ingest runs the WKB encode+decode once and materializes __bbox_*
    doubles z-order clustered (sources/geo_layer.py — the ref
    engine.py:232-279 persisted-pre-filter-column design); the extent
    query itself is a MIN/MAX over plain parquet doubles, answered from
    footer stats: the layer is read through the DSv2 parquet source
    (scoped at load() time in geo_layer.py — v1 parquet silently ignores
    spark.sql.parquet.aggregatePushdown, ADVICE r5) and the plan shows
    PushedAggregation (plan-asserted). First call per corpus
    pays the build (the signature-store contract); every query after
    reads no geometry at all."""
    from iceberg_geospatial_api_server_spark.geo.functions import extent
    from iceberg_geospatial_api_server_spark.sources.geo_layer import (
        lineitem_bbox_layer,
    )

    layer = lineitem_bbox_layer(spark, sf_dir).select(
        "__bbox_xmin", "__bbox_ymin", "__bbox_xmax", "__bbox_ymax"
    )
    return extent(layer)


@_q(
    "geo_pip_join_count",
    f"""
    SELECT n.n_name,
           COUNT(*) AS n_points,
           ROUND(SUM(p.l_quantity), 2) AS sum_qty
    FROM {_LI_PTS} p
    JOIN (SELECT n_nationkey, n_name,
                 (n_nationkey % 5) * CAST(72.0 AS DOUBLE) - 180.0 + 0.05 AS xmin,
                 (n_nationkey % 5) * CAST(72.0 AS DOUBLE) - 180.0 + 59.95 AS xmax,
                 ((n_nationkey - n_nationkey % 5) / CAST(5.0 AS DOUBLE)) * 34.0 - 85.0 + 0.05 AS ymin,
                 ((n_nationkey - n_nationkey % 5) / CAST(5.0 AS DOUBLE)) * 34.0 - 85.0 + 29.95 AS ymax
          FROM nation) n
      ON p.x > n.xmin AND p.x < n.xmax AND p.y > n.ymin AND p.y < n.ymax
    GROUP BY n.n_name
    """,
)
def geo_pip_join(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import (
        point_in_polygon_join,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
        nation_rect_polygons,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    polys = nation_rect_polygons(_t(spark, sf_dir, "nation")).select(
        "n_nationkey", "n_name", "geometry"
    )
    joined = point_in_polygon_join(pts, polys, "x", "y", "geometry", res=30.0)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@_q(
    "geo_nearest_join",
    """
    SELECT s_suppkey, nn_c_custkey, ROUND(nn_dist, 6) AS nn_dist FROM (
      SELECT s.s_suppkey, c.c_custkey AS nn_c_custkey,
             SQRT((s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)) AS nn_dist,
             ROW_NUMBER() OVER (PARTITION BY s.s_suppkey
               ORDER BY SQRT((s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)), c.c_custkey) AS rn
      FROM (SELECT s_suppkey, (s_suppkey * 37 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                   (s_suppkey * 53 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y FROM supplier) s
      CROSS JOIN (SELECT c_custkey, (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                   (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y FROM customer) c
    ) WHERE rn = 1
    """,
)
def geo_nearest(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import (
        nearest_join_broadcast,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        supplier_points,
    )

    supp = supplier_points(_t(spark, sf_dir, "supplier"))
    cust = customer_points(_t(spark, sf_dir, "customer"))
    out = nearest_join_broadcast(
        supp, cust, "s_suppkey", "x", "y", "x", "y", ["c_custkey"]
    )
    return out.select(
        "s_suppkey",
        F.col("nn_c_custkey"),
        F.round("nn_dist", 6).alias("nn_dist"),
    )


@_q(
    "geo_mercator",
    f"""
    SELECT l_orderkey, l_linenumber,
           ROUND(x * (PI() * 6378137.0 / 180.0), 4) + 0.0 AS mx,
           ROUND(LN(TAN((90.0 + y) * (PI() / 360.0))) * 6378137.0, 4) + 0.0 AS my
    FROM {_LI_PTS} p
    """,
)
def geo_mercator(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import (
        mercator_x,
        mercator_y,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_points

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return pts.select(
        "l_orderkey",
        "l_linenumber",
        # + 0.0 maps IEEE -0.0 to +0.0 on both engines: DuckDB ROUND
        # preserves the sign of zero, Spark's doesn't, and the driver's
        # repr-based hash tells them apart (surfaced at sf0.1 where 611
        # points round to zero northing)
        (F.round(mercator_x(F.col("x")), 4) + F.lit(0.0)).alias("mx"),
        (F.round(mercator_y(F.col("y")), 4) + F.lit(0.0)).alias("my"),
    )


def _utm_oracle_sql() -> str:
    """Krüger-series forward UTM (zone 33N) as DuckDB SQL, generated from
    the SAME float constants as geo.functions.utm_cols, with hyperbolics
    spelled as the same exp/ln compositions — so both engines execute an
    identical operation sequence and the 3-dp rounded outputs hash-match."""
    import math as _m

    from iceberg_geospatial_api_server_spark.geo import wkb as _W

    a1, a2, a3 = (repr(v) for v in _W._TM_ALPHA)
    c2 = repr(2.0 * _m.sqrt(_W._TM_N) / (1.0 + _W._TM_N))
    k0a = repr(0.9996 * _W._TM_A)
    d2r = repr(_m.pi / 180.0)

    def atanh(u: str) -> str:
        return f"(0.5 * LN((1.0 + {u}) / (1.0 - {u})))"

    def sinh(v: str) -> str:
        return f"((EXP({v}) - EXP(-({v}))) / 2.0)"

    def cosh(v: str) -> str:
        return f"((EXP({v}) + EXP(-({v}))) / 2.0)"

    t = sinh(f"{atanh('sp')} - {c2} * {atanh(f'{c2} * sp')}")
    easting = (
        f"500000.0 + {k0a} * (eta"
        f" + {a1} * COS(2.0 * xi) * {sinh('2.0 * eta')}"
        f" + {a2} * COS(4.0 * xi) * {sinh('4.0 * eta')}"
        f" + {a3} * COS(6.0 * xi) * {sinh('6.0 * eta')})"
    )
    northing = (
        f"{k0a} * (xi"
        f" + {a1} * SIN(2.0 * xi) * {cosh('2.0 * eta')}"
        f" + {a2} * SIN(4.0 * xi) * {cosh('4.0 * eta')}"
        f" + {a3} * SIN(6.0 * xi) * {cosh('6.0 * eta')})"
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           ROUND({easting}, 3) AS easting,
           ROUND({northing}, 3) AS northing
    FROM (
      SELECT l_orderkey, l_linenumber,
             ATAN2(t, COS(lam)) AS xi,
             {atanh('SIN(lam) / SQRT(1.0 + t * t)')} AS eta
      FROM (
        SELECT l_orderkey, l_linenumber, lam, {t} AS t
        FROM (
          SELECT l_orderkey, l_linenumber,
                 (x - 15.0) * {d2r} AS lam,
                 SIN(y * {d2r}) AS sp
          FROM {_LI_PTS} p
          WHERE x BETWEEN -5.0 AND 35.0 AND y >= 0.0
        )
      )
    )
    """


@_q("geo_utm", _utm_oracle_sql())
def geo_utm(spark, sf_dir):
    """Closed-form UTM (zone 33N) as JVM column arithmetic over the
    lineitem point cloud restricted to the zone's ±20° lon window."""
    from iceberg_geospatial_api_server_spark.geo.functions import utm_cols
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem")).filter(
        (F.col("x") >= -5.0) & (F.col("x") <= 35.0) & (F.col("y") >= 0.0)
    )
    e, n = utm_cols(F.col("x"), F.col("y"), 33, True)
    return pts.select(
        "l_orderkey",
        "l_linenumber",
        F.round(e, 3).alias("easting"),
        F.round(n, 3).alias("northing"),
    )


def _albers_oracle_sql() -> str:
    """Albers Equal Area forward (EPSG:5070, Conus) as DuckDB SQL,
    generated from the SAME stage expression texts the Spark entry runs
    via selectExpr (geo/projections.py albers_sql_exprs) — identical
    IEEE operation sequence, 3-dp rounding absorbs libm last-ulp
    drift in SIN/COS/LN/SQRT."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        albers_sql_exprs,
    )

    ex = albers_sql_exprs(5070)
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    ),
    box AS (SELECT * FROM pts
            WHERE x > -124.0 AND x < -67.0 AND y > 24.0 AND y < 49.0),
    s1 AS (SELECT c_custkey, x, y, {ex['sp']} AS sp FROM box),
    s2 AS (SELECT c_custkey, {ex['q']} AS q, {ex['theta']} AS theta FROM s1),
    s3 AS (SELECT c_custkey, theta, {ex['rho']} AS rho FROM s2)
    SELECT c_custkey,
           ROUND({ex['easting']}, 3) AS easting,
           ROUND({ex['northing']}, 3) AS northing
    FROM s3 ORDER BY c_custkey
    """


@_q("geo_albers", _albers_oracle_sql())
def geo_albers(spark, sf_dir):
    """Albers Equal Area (EPSG:5070 Conus) as staged selectExpr column
    arithmetic over the customer point cloud restricted to the CRS
    domain — the conic half of the arbitrary-EPSG outSR surface
    (ref query/geometry.py:85-95 reaches it via pyproj; here the Snyder
    ellipsoidal forward runs as JVM expressions, cross-checked against
    the numpy kernel by tests/test_projections.py)."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        albers_sql_exprs,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )

    ex = albers_sql_exprs(5070)
    pts = customer_points(_t(spark, sf_dir, "customer")).filter(
        (F.col("x") > -124.0) & (F.col("x") < -67.0)
        & (F.col("y") > 24.0) & (F.col("y") < 49.0)
    )
    return (
        pts.selectExpr("c_custkey", "x", "y", f"{ex['sp']} AS sp")
        .selectExpr("c_custkey", f"{ex['q']} AS q", f"{ex['theta']} AS theta")
        .selectExpr("c_custkey", "theta", f"{ex['rho']} AS rho")
        .selectExpr(
            "c_custkey",
            f"ROUND({ex['easting']}, 3) AS easting",
            f"ROUND({ex['northing']}, 3) AS northing",
        )
        .orderBy("c_custkey")
    )


def _lcc_oracle_sql() -> str:
    """Lambert Conformal Conic 2SP forward (EPSG:3034, Europe) as DuckDB
    SQL from the same stage texts the Spark entry runs (see
    _albers_oracle_sql)."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        lcc_sql_exprs,
    )

    ex = lcc_sql_exprs(3034)
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    ),
    box AS (SELECT * FROM pts
            WHERE x > -30.0 AND x < 60.0 AND y > 25.0 AND y < 70.0),
    s1 AS (SELECT c_custkey, x, y, {ex['sp']} AS sp FROM box),
    s2 AS (SELECT c_custkey, x, {ex['t']} AS t FROM s1),
    s3 AS (SELECT c_custkey, {ex['theta']} AS theta, {ex['rho']} AS rho
           FROM s2)
    SELECT c_custkey,
           ROUND({ex['easting']}, 3) AS easting,
           ROUND({ex['northing']}, 3) AS northing
    FROM s3 ORDER BY c_custkey
    """


@_q("geo_lcc", _lcc_oracle_sql())
def geo_lcc(spark, sf_dir):
    """Lambert Conformal Conic (EPSG:3034 Europe) staged selectExpr
    forward over customer points in the CRS domain — second
    oracle-graded conic family next to geo_albers (the reference serves
    both through pyproj, ref query/geometry.py:85-95; forward
    cross-checked against Snyder's worked example in
    tests/test_projections.py)."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        lcc_sql_exprs,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )

    ex = lcc_sql_exprs(3034)
    # generous box around the CRS domain (the conic stays
    # well-conditioned well beyond the official extent) so the graded
    # row count is non-thin at sf0.01
    pts = customer_points(_t(spark, sf_dir, "customer")).filter(
        (F.col("x") > -30.0) & (F.col("x") < 60.0)
        & (F.col("y") > 25.0) & (F.col("y") < 70.0)
    )
    return (
        pts.selectExpr("c_custkey", "x", "y", f"{ex['sp']} AS sp")
        .selectExpr("c_custkey", "x", f"{ex['t']} AS t")
        .selectExpr("c_custkey", f"{ex['theta']} AS theta",
                    f"{ex['rho']} AS rho")
        .selectExpr(
            "c_custkey",
            f"ROUND({ex['easting']}, 3) AS easting",
            f"ROUND({ex['northing']}, 3) AS northing",
        )
        .orderBy("c_custkey")
    )


def _ps_oracle_sql() -> str:
    """Polar Stereographic variant B forward (EPSG:3413, NSIDC Arctic) as
    DuckDB SQL from the same stage texts the Spark entry runs."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        ps_sql_exprs,
    )

    ex = ps_sql_exprs(3413)
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    ),
    box AS (SELECT * FROM pts WHERE y > 50.0),
    s1 AS (SELECT c_custkey, x, y, {ex['sp']} AS sp FROM box),
    s2 AS (SELECT c_custkey, x, {ex['t']} AS t FROM s1),
    s3 AS (SELECT c_custkey, {ex['theta']} AS theta, {ex['rho']} AS rho
           FROM s2)
    SELECT c_custkey,
           ROUND({ex['easting']}, 3) + 0.0 AS easting,
           ROUND({ex['northing']}, 3) + 0.0 AS northing
    FROM s3 ORDER BY c_custkey
    """


@_q("geo_ps", _ps_oracle_sql())
def geo_ps(spark, sf_dir):
    """Polar Stereographic (EPSG:3413, the NSIDC Arctic grid) staged
    selectExpr forward over customer points above 50°N — third
    oracle-graded projection family next to geo_albers/geo_lcc (the
    reference serves polar codes through pyproj, ref
    query/geometry.py:85-95; kernel pinned by scale-factor,
    spherical-limit and round-trip tests in tests/test_projections.py)."""
    from iceberg_geospatial_api_server_spark.geo.projections import (
        ps_sql_exprs,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )

    ex = ps_sql_exprs(3413)
    pts = customer_points(_t(spark, sf_dir, "customer")).filter(
        F.col("y") > 50.0
    )
    return (
        pts.selectExpr("c_custkey", "x", "y", f"{ex['sp']} AS sp")
        .selectExpr("c_custkey", "x", f"{ex['t']} AS t")
        .selectExpr("c_custkey", f"{ex['theta']} AS theta",
                    f"{ex['rho']} AS rho")
        # + 0.0 folds IEEE −0.0 to 0.0 on both engines: a point exactly
        # on θ=±90° rounds rho·cos(θ)≈∓1e-16 to a signed zero whose
        # repr differs between them (found at c_custkey=450, sf0.01)
        .selectExpr(
            "c_custkey",
            f"ROUND({ex['easting']}, 3) + 0.0 AS easting",
            f"ROUND({ex['northing']}, 3) + 0.0 AS northing",
        )
        .orderBy("c_custkey")
    )


@_q(
    "geo_hull_parity",
    """
    WITH n AS (
      SELECT n_nationkey,
             CAST(n_nationkey % 5 + 2 AS BIGINT) AS w,
             CAST(n_nationkey % 3 + 1 AS BIGINT) AS h
      FROM nation
    ), cc AS (
      SELECT c_nationkey, COUNT(*) AS nc FROM customer GROUP BY 1
    )
    SELECT CAST(n.n_nationkey AS VARCHAR) AS grp,
           CAST(5 AS BIGINT) AS hull_vertices,
           CAST(w * h AS DOUBLE) AS hull_area,
           CAST(4 + COALESCE(cc.nc, 0) AS BIGINT) AS point_count
    FROM n LEFT JOIN cc ON cc.c_nationkey = n.n_nationkey
    ORDER BY n.n_nationkey
    """,
)
def geo_hull_parity_q(spark, sf_dir):
    """The convex-hull kernel VALUE-graded (the crafted-fixture form of
    geo_convex_hull, which stays rows-only over organic points): per
    nation, an exact integer rectangle's four corners plus its
    customers as strictly-interior points — the monotone-chain hull
    must come back as exactly the closed 4-corner ring (5 vertices,
    the closing-point convention) with the exact integer shoelace area
    w·h, and point_count counts corners + members. Interior points are
    inexact floats by construction and must NOT affect any graded
    value — a hull that leaks an interior point or drops a corner
    shifts vertices/area and breaks the hash."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        convex_hull_by_group,
    )

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"),
        ((F.col("n_nationkey") % 5) * 20).cast("double").alias("x0"),
        ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5 * 15)
        .cast("double")
        .alias("y0"),
        (F.col("n_nationkey") % 5 + 2).cast("double").alias("w"),
        (F.col("n_nationkey") % 3 + 1).cast("double").alias("h"),
    )
    corners = nat.select(
        F.col("n_nationkey").cast("string").alias("grp"),
        F.explode(
            F.array(
                F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
                F.struct(
                    (F.col("x0") + F.col("w")).alias("x"),
                    F.col("y0").alias("y"),
                ),
                F.struct(
                    (F.col("x0") + F.col("w")).alias("x"),
                    (F.col("y0") + F.col("h")).alias("y"),
                ),
                F.struct(
                    F.col("x0").alias("x"),
                    (F.col("y0") + F.col("h")).alias("y"),
                ),
            )
        ).alias("__p"),
    ).select("grp", "__p.x", "__p.y")
    interior = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat["n_nationkey"])
        .select(
            F.col("n_nationkey").cast("string").alias("grp"),
            (
                F.col("x0")
                + F.col("w")
                * ((F.col("c_custkey") % 7 + 1) / F.lit(9.0))
            ).alias("x"),
            (
                F.col("y0")
                + F.col("h")
                * ((F.col("c_custkey") % 5 + 1) / F.lit(7.0))
            ).alias("y"),
        )
    )
    pts = corners.unionByName(interior)
    return (
        convex_hull_by_group(pts, "grp", "x", "y")
        .select("grp", "hull_vertices", "hull_area", "point_count")
        .orderBy(F.col("grp").cast("int"))
    )


@_q("geo_convex_hull")  # no SQL oracle (hull not expressible without spatial ext)
def geo_hull(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.geo.functions import (
        convex_hull_by_group,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_points

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return convex_hull_by_group(pts, "l_returnflag", "x", "y").select(
        "l_returnflag",
        "point_count",
        "hull_vertices",
        F.round("hull_area", 4).alias("hull_area"),
    )


# ===========================================================================
# B. Feature-query engine (ref query/engine.py:282-463)
# ===========================================================================

_NUMBERED = """
    (SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate) - 1 AS INT)
              AS __oid, *
     FROM lineitem)
"""

_OID_ORDER = [
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_shipdate",
]  # full unique composite: (orderkey, linenumber) alone has collisions


@_q(
    "fq_attribute_filter",
    f"""
    SELECT __oid, l_orderkey, l_linenumber, l_quantity
    FROM {_NUMBERED} n
    WHERE l_quantity > 45.0 AND l_returnflag = 'R'
    ORDER BY l_quantity DESC, __oid
    LIMIT 50
    """,
)
def fq_attr(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams

    li = _t(spark, sf_dir, "lineitem")
    res = query_features(
        li,
        QueryParams(
            where="l_quantity > 45.0 AND l_returnflag = 'R'",
            out_fields="l_orderkey,l_linenumber,l_quantity",
            order_by="l_quantity DESC",
            limit=50,
            return_geometry=False,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "fq_ids_only",
    f"""
    SELECT __oid FROM {_NUMBERED} n
    WHERE l_quantity > 48.0 AND l_returnflag = 'A'
    """,
)
def fq_ids(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams

    li = _t(spark, sf_dir, "lineitem")
    res = query_features(
        li,
        QueryParams(
            where="l_quantity > 48.0 AND l_returnflag = 'A'",
            return_ids_only=True,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "fq_object_ids",
    f"""
    SELECT __oid, l_orderkey, l_linenumber
    FROM {_NUMBERED} n
    WHERE __oid IN (0, 5, 10, 99, 250, 999)
    """,
)
def fq_oids(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams

    li = _t(spark, sf_dir, "lineitem")
    res = query_features(
        li,
        QueryParams(
            object_ids=[0, 5, 10, 99, 250, 999],
            out_fields="l_orderkey,l_linenumber",
            return_geometry=False,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "fq_count_only",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity > 25.0",
)
def fq_count(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams

    li = _t(spark, sf_dir, "lineitem")
    res = query_features(
        li,
        QueryParams(where="l_quantity > 25.0", return_count_only=True),
        oid_order=_OID_ORDER,
    )
    return spark.createDataFrame([(res.count,)], "cnt long")


@_q(
    "fq_bbox_filter",
    f"""
    SELECT __oid, l_orderkey, l_linenumber
    FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate) - 1 AS INT)
                   AS __oid,
                 l_orderkey, l_linenumber,
                 (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                 (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
          FROM lineitem) n
    WHERE x >= -49.95 AND x <= 29.95 AND y >= -39.95 AND y <= 24.95
    """,
)
def fq_bbox(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    geoms = lineitem_point_geoms(_t(spark, sf_dir, "lineitem"))
    res = query_features(
        geoms,
        QueryParams(
            bbox=(-49.95, -39.95, 29.95, 24.95),
            out_fields="l_orderkey,l_linenumber",
            return_geometry=False,
            limit=None,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "fq_geometry_filter",
    f"""
    SELECT __oid, l_orderkey, l_linenumber
    FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate) - 1 AS INT)
                   AS __oid,
                 l_orderkey, l_linenumber,
                 (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                 (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
          FROM lineitem) n
    WHERE x > -60.05 AND x < 40.05 AND y > -30.05 AND y < 35.05
    """,
)
def fq_geom(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    geoms = lineitem_point_geoms(_t(spark, sf_dir, "lineitem"))
    wkt = (
        "POLYGON ((-60.05 -30.05, 40.05 -30.05, 40.05 35.05, "
        "-60.05 35.05, -60.05 -30.05))"
    )
    res = query_features(
        geoms,
        QueryParams(
            geometry_filter=wkt,
            spatial_rel="intersects",
            out_fields="l_orderkey,l_linenumber",
            return_geometry=False,
            limit=None,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "fq_geometry_filter_rects",
    f"""
    SELECT __oid, l_orderkey, l_linenumber
    FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate) - 1 AS INT)
                   AS __oid,
                 l_orderkey, l_linenumber,
                 ({_SYN_LI_X}) - 1.95 AS rxmin, ({_SYN_LI_X}) + 1.95 AS rxmax,
                 ({_SYN_LI_Y}) - 1.45 AS rymin, ({_SYN_LI_Y}) + 1.45 AS rymax
          FROM lineitem) n
    WHERE (rxmax > -60 AND rxmin < 0 AND rymax > -30 AND rymin < 35)
       OR (rxmax > 0 AND rxmin < 40 AND rymax > -30 AND rymin < 0)
    """,
)
def fq_geom_rects(spark, sf_dir):
    """Polygon features × CONCAVE polygon filter — the exact non-point
    path (an L-shaped filter: its bbox covers the notch, so bbox
    semantics alone would return false positives there; the oracle is the
    union-of-two-rectangles arithmetic, which the exact kernel must
    reproduce)."""
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_rect_geoms,
    )

    rects = lineitem_rect_geoms(_t(spark, sf_dir, "lineitem"))
    wkt = (
        "POLYGON ((-60 -30, 40 -30, 40 0, 0 0, 0 35, -60 35, -60 -30))"
    )
    res = query_features(
        rects,
        QueryParams(
            geometry_filter=wkt,
            spatial_rel="intersects",
            out_fields="l_orderkey,l_linenumber",
            return_geometry=False,
            limit=None,
        ),
        oid_order=_OID_ORDER,
    )
    return res.features


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q4_order_priority,
    )

    return q4_order_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@_q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
             AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q10_returned_items,
    )

    return q10_returned_items(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@_q(
    "q12_shipmode_priority",
    """
    SELECT CAST(l_linenumber % 2 AS BIGINT) AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q12(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q12_shipmode_priority,
    )

    return q12_shipmode_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    ).select(
        F.col("ship_bucket").cast("long").alias("ship_bucket"),
        "high_line_count",
        "low_line_count",
    )


@_q(
    "q14_promo_revenue",
    """
    SELECT ROUND(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                 * 100.0 / SUM(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q14_promo_revenue,
    )

    return q14_promo_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@_q(
    "q18_large_volume",
    """
    SELECT c_custkey, c_name, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice, ROUND(total_qty, 2) AS total_qty
    FROM customer, orders,
         (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 210.0) big
    WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q18(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q18_large_volume,
    )

    return q18_large_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        threshold=210.0,
    )


@_q(
    "q19_disjunctive",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND (
      (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
      OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
      OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
    """,
)
def q19(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q19_disjunctive,
    )

    return q19_disjunctive(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@_q(
    "part_type_stats",
    """
    SELECT p_brand, p_type,
           COUNT(*) AS n_parts,
           ROUND(AVG(p_retailprice), 4) AS avg_price,
           ROUND(SUM(p_retailprice), 2) AS total_price,
           CAST(MIN(p_size) AS INT) AS min_size,
           CAST(MAX(p_size) AS INT) AS max_size
    FROM part GROUP BY p_brand, p_type
    """,
)
def part_stats(spark, sf_dir):
    """Category statistics (cookbook §2.5 shape)."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@_q("events_approx_stats")  # rows-only: HLL/quantile sketches are
# algorithm-specific (Spark HyperLogLog++ vs DuckDB's sketch differ by
# design). Its accuracy contract IS value-graded: events_approx_contract.
def ev_approx(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_value"),
        F.percentile_approx("value", 0.99).alias("p99_value"),
    )


@_q(
    "events_approx_contract",
    """
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_exact,
           TRUE AS users_within_5pct,
           TRUE AS p50_rank_ok,
           TRUE AS p99_rank_ok
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_approx_contract_q(spark, sf_dir):
    """The sketch-accuracy contracts of events_approx_stats VALUE-graded
    (r7 — the events_hll_contract pattern, VERDICT r6 missing-item 3):
    sketch internals are engine-specific and can never hash, but the
    contracts the operator is sold on can, in exact integer arithmetic:

    - distinct-count: ``20·|est − exact| ≤ exact`` (<5% error; HLL++ at
      rsd=0.01 is register-exact in sparse mode at these cardinalities,
      so the band has orders-of-magnitude slack);
    - quantiles: percentile_approx guarantees the returned element's
      RANK is within n/accuracy of the target. Under ties the element
      occupies the rank RANGE [cnt_lt+1, cnt_le], so the tie-robust
      contract is that this range intersects the ±(0.01·n + 2) band
      around q·n: ``100·(cnt_lt+1) ≤ 100·q·n + n + 200  AND
      100·cnt_le ≥ 100·q·n − n − 200`` after clearing denominators
      (a tie-inclusive count alone would flip the boolean on tied data
      with a perfectly in-spec sketch; accuracy=10000 gives rank error
      ≤ n/10000, ~50× inside the graded band at every test SF).

    The oracle computes the exact side (one GROUP BY) and asserts TRUE;
    a drifting sketch flips the Spark boolean and the hash goes red.
    NULL event_type groups are excluded on BOTH sides (the Spark inner
    join on the group key is null-unsafe while SQL GROUP BY keeps a
    NULL group — the contract grades named groups only).
    Scale shape: two events scans — the sketch aggregate ships
    constant-size partials per partition (map-side combine), the
    rank-check aggregate rides a 5-row broadcast of the estimates —
    no corpus-sized exchange anywhere."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    est = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("users_est"),
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    )

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def _rank_ok(lt, le, q_pct):
        # rank range [lt+1, le] must intersect q·n ± (0.01·n + 2),
        # all ×100 to stay in exact integers
        target = F.col("n") * F.lit(q_pct)
        band = F.col("n") + F.lit(200)
        return ((F.col(lt) + F.lit(1)) * F.lit(100) <= target + band) & (
            F.col(le) * F.lit(100) >= target - band
        )

    return (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("value").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("users_exact"),
            F.max("users_est").alias("users_est"),
            _cnt(F.col("value") < F.col("p50")).alias("lt50"),
            _cnt(F.col("value") <= F.col("p50")).alias("le50"),
            _cnt(F.col("value") < F.col("p99")).alias("lt99"),
            _cnt(F.col("value") <= F.col("p99")).alias("le99"),
        )
        .select(
            "event_type",
            "n",
            "users_exact",
            (
                F.abs(F.col("users_est") - F.col("users_exact")) * F.lit(20)
                <= F.col("users_exact")
            ).alias("users_within_5pct"),
            _rank_ok("lt50", "le50", 50).alias("p50_rank_ok"),
            _rank_ok("lt99", "le99", 99).alias("p99_rank_ok"),
        )
        .orderBy("event_type")
    )


@_q(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q6(spark, sf_dir):
    """TPC-H Q6 shape: pure scan+filter+agg — every predicate must reach
    the parquet scan (asserted in tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "fq_aggregate_mode",
    """
    SELECT (FLOOR(x / 5.0) + 0.5) * 5.0 AS x,
           (FLOOR(y / 5.0) + 0.5) * 5.0 AS y,
           COUNT(*) AS feature_count
    FROM (SELECT (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                 (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
          FROM lineitem) p
    GROUP BY FLOOR(x / 5.0), FLOOR(y / 5.0)
    """,
)
def fq_agg_mode(spark, sf_dir):
    """The /api/features mode=aggregate path (ref api/main.py:410-443)
    end-to-end: WKB geometry → st_centroid kernel → grid bins."""
    from iceberg_geospatial_api_server_spark.engine import get_features
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    geoms = lineitem_point_geoms(_t(spark, sf_dir, "lineitem"))
    return get_features(geoms, mode="aggregate", resolution=5.0)


@_q(
    "geo_buffer_parity",
    """
    SELECT n.n_nationkey,
           CAST(COALESCE(SUM(CASE WHEN c.c_custkey % 3 < 2
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS customers_within
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey ORDER BY n.n_nationkey
    """,
)
def geo_buffer_parity_q(spark, sf_dir):
    """The buffer→polygon→PIP-join pipeline VALUE-graded (the
    crafted-fixture form of geo_buffer_overlap, which stays rows-only
    over organic points): one radius-2 16-gon buffer per nation anchor
    (anchors 10 apart), probe points for each customer at distance
    1.0/1.5/3.0 from their nation's anchor by c_custkey % 3. The
    16-gon's apothem is 2·cos(π/16) ≈ 1.9616, so d ≤ 1.5 is inside
    for ANY vertex rotation and d = 3.0 > 2 is outside — the in/out
    decision has a structural margin (≥ 0.46) no float wobble can
    cross, and anchors are far enough apart (10 > 2 + 3) that no probe
    can touch a foreign buffer. customers_within per nation is then a
    pure modular count in SQL. Probe angles use trig in the FIXTURE
    only (positions aren't graded; the count is)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        point_in_polygon_join,
        st_buffer_point,
    )

    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        ((F.col("n_nationkey") % 5) * 10).cast("double").alias("cx"),
        ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5 * 10)
        .cast("double")
        .alias("cy"),
    )
    buffers = nat.select(
        "n_nationkey",
        st_buffer_point(2.0, 16)(F.col("cx"), F.col("cy")).alias(
            "geometry"
        ),
    )
    d = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit(1.0))
        .when(F.col("c_custkey") % 3 == 1, F.lit(1.5))
        .otherwise(F.lit(3.0))
    )
    theta = F.col("c_custkey").cast("double") * F.lit(0.7)
    probes = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == nat["n_nationkey"],
        )
        .select(
            "c_custkey",
            (F.col("cx") + d * F.cos(theta)).alias("x"),
            (F.col("cy") + d * F.sin(theta)).alias("y"),
        )
    )
    joined = point_in_polygon_join(
        probes, buffers, "x", "y", "geometry", res=4.0
    )
    counts = joined.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        nat.select("n_nationkey")
        .join(counts, "n_nationkey", "left")
        .select(
            "n_nationkey",
            F.coalesce("__n", F.lit(0))
            .cast("long")
            .alias("customers_within"),
        )
        .orderBy("n_nationkey")
    )


@_q("geo_buffer_overlap")  # rows-only (buffer polygons not SQL-expressible)
def geo_buffer_overlap(spark, sf_dir):
    """Cookbook §1.6: buffer supplier points ~2° and count customer points
    inside each buffer (buffer → polygon → grid-cell spatial join)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        point_in_polygon_join,
        st_buffer_point,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        supplier_points,
    )

    supp = supplier_points(_t(spark, sf_dir, "supplier")).withColumn(
        "geometry", st_buffer_point(2.0, 16)(F.col("x"), F.col("y"))
    ).select("s_suppkey", "geometry")
    cust = customer_points(_t(spark, sf_dir, "customer"))
    joined = point_in_polygon_join(cust, supp, "x", "y", "geometry", res=4.0)
    return (
        joined.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("customers_within"))
        .filter(F.col("customers_within") >= 1)
    )


@_q(
    "geo_line_join_parity",
    """
    SELECT n.n_nationkey,
           CAST(COALESCE(SUM(CASE WHEN c.c_custkey % 3 < 2
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_lines
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey ORDER BY n.n_nationkey
    """,
)
def geo_line_join_parity_q(spark, sf_dir):
    """The line-polygon ST_Intersects join VALUE-graded (the
    crafted-fixture form of geo_line_join, which stays rows-only over
    organic polylines): one exact integer 4×2 rectangle per nation
    (anchors 10 apart), one 2-point segment per customer placed by
    c_custkey % 3 — wholly INSIDE the rect (containment intersects),
    CROSSING its left edge (proper crossing), or wholly OUTSIDE with a
    ≥2-unit gap to every rect. Each case sits a full unit from any
    boundary, so the in/cross/out decision has structural margin, and
    the per-nation intersecting-line count is a pure modular count in
    SQL. Exercises both ST_Intersects branches (containment + edge
    crossing) of the segment/ray-cast kernel under the grid-cell
    candidate join."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        line_polygon_intersect_join,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        ((F.col("n_nationkey") % 5) * 10).cast("double").alias("x0"),
        ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5 * 10)
        .cast("double")
        .alias("y0"),
    )

    @pandas_udf(TT.BinaryType())
    def make_rect(x0: pd.Series, y0: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for a, b in zip(x0.astype("f8"), y0.astype("f8")):
            out.append(
                W_.encode_polygon(
                    [
                        [
                            (a, b),
                            (a + 4.0, b),
                            (a + 4.0, b + 2.0),
                            (a, b + 2.0),
                            (a, b),
                        ]
                    ]
                )
            )
        return pd.Series(out)

    polys = nat.select(
        "n_nationkey", make_rect(F.col("x0"), F.col("y0")).alias("geometry")
    )

    @pandas_udf(TT.BinaryType())
    def make_seg(k: pd.Series, x0: pd.Series, y0: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for kk, a, b in zip(
            k.astype("i8"), x0.astype("f8"), y0.astype("f8")
        ):
            m = int(kk) % 3
            if m == 0:  # wholly inside
                p = [(a + 1.0, b + 1.0), (a + 2.0, b + 1.0)]
            elif m == 1:  # crosses the left edge
                p = [(a - 1.0, b + 1.0), (a + 1.0, b + 1.0)]
            else:  # wholly outside, ≥2 from every rect
                p = [(a + 6.0, b + 1.0), (a + 7.0, b + 1.0)]
            out.append(W_.encode_linestring(p))
        return pd.Series(out)

    lines = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nat), F.col("c_nationkey") == nat["n_nationkey"]
        )
        .select(
            "c_custkey",
            make_seg(
                F.col("c_custkey"), F.col("x0"), F.col("y0")
            ).alias("geometry"),
        )
    )
    joined = line_polygon_intersect_join(lines, polys, res=4.0)
    counts = joined.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        nat.select("n_nationkey")
        .join(counts, "n_nationkey", "left")
        .select(
            "n_nationkey",
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_lines"),
        )
        .orderBy("n_nationkey")
    )


@_q("geo_line_join")  # rows-only (segment-intersection not SQL-expressible)
def geo_line_join(spark, sf_dir):
    """Line-polygon ST_Intersects join (cookbook §1.5 second query):
    polylines derived from customer points vs nation rectangles."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        line_polygon_intersect_join,
        st_point,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        nation_rect_polygons,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_line(x: pd.Series, y: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        return pd.Series(
            [
                W_.encode_linestring(
                    [(a, b), (a + 8.0, b + 4.0), (a + 16.0, b)]
                )
                for a, b in zip(x.astype("f8"), y.astype("f8"))
            ]
        )

    lines = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey", make_line(F.col("x"), F.col("y")).alias("geometry")
    )
    polys = nation_rect_polygons(_t(spark, sf_dir, "nation")).select(
        "n_nationkey", "n_name", "geometry"
    )
    joined = line_polygon_intersect_join(lines, polys, res=30.0)
    return (
        joined.groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("n_name")
    )


def _line_lengths_oracle_sql() -> str:
    """The crafted polyline rebuilt arithmetically: every vertex is the
    SAME float expression the entry's builder runs (offsets added in the
    same order), segment deltas are the same subtractions of those
    doubles, per-segment SQRT is IEEE-identical, and quantize-per-
    segment-then-sum makes length_q an exact BIGINT."""
    return f"""
    WITH c AS (
      SELECT c_custkey AS k, {_CUST_X} AS x0, {_CUST_Y} AS y0
      FROM customer
    ), v AS (
      SELECT k, x0, y0,
             x0 + (k % 7 + 1) * 0.5 AS x1,
             y0 + (k % 5 + 1) * 0.5 AS y1,
             (x0 + (k % 7 + 1) * 0.5) + (k % 3 + 1) * 1.0 AS x2,
             y0 - (k % 4 + 1) * 0.5 AS y3
      FROM c
    ), q AS (
      SELECT k,
        CAST(FLOOR(SQRT((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
                   * 1000000.0 + 0.5) AS BIGINT) AS q1,
        CAST(FLOOR(SQRT((x2 - x1) * (x2 - x1) + (y0 - y1) * (y0 - y1))
                   * 1000000.0 + 0.5) AS BIGINT) AS q2,
        CAST(FLOOR(SQRT((x2 - x2) * (x2 - x2) + (y3 - y0) * (y3 - y0))
                   * 1000000.0 + 0.5) AS BIGINT) AS q3,
        CAST(FLOOR(SQRT((x0 - x2) * (x0 - x2) + (y3 - y3) * (y3 - y3))
                   * 1000000.0 + 0.5) AS BIGINT) AS q4
      FROM v
    )
    SELECT q.k AS c_custkey,
           CAST(1 AS BIGINT) AS n_parts,
           CAST(3 + q.k % 3 AS BIGINT) AS n_vertices,
           q1 + q2 + CASE WHEN q.k % 3 >= 1 THEN q3 ELSE 0 END
              + CASE WHEN q.k % 3 = 2 THEN q4 ELSE 0 END AS length_q
    FROM q ORDER BY c_custkey
    """


@_q("geo_line_lengths", _line_lengths_oracle_sql())
def geo_line_lengths_q(spark, sf_dir):
    """The LineString codec + vertex walk VALUE-graded (the
    mm_decode_parity pattern applied to geometry): crafted 3-5 vertex
    polylines (offsets pure float functions of c_custkey) go through
    the real WKB encoder and back through line_metrics' decode; vertex
    counts and per-segment-quantized lengths must equal the same
    arithmetic evaluated directly in SQL. A wrong byte order, vertex
    stride, or ring/path mixup shifts a sum and breaks the hash."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        line_metrics,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_line(x: pd.Series, y: pd.Series, k: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for x0, y0, kk in zip(
            x.astype("f8"), y.astype("f8"), k.astype("i8")
        ):
            kk = int(kk)
            x1 = x0 + (kk % 7 + 1) * 0.5
            y1 = y0 + (kk % 5 + 1) * 0.5
            x2 = x1 + (kk % 3 + 1) * 1.0
            y3 = y0 - (kk % 4 + 1) * 0.5
            pts = [(x0, y0), (x1, y1), (x2, y0)]
            if kk % 3 >= 1:
                pts.append((x2, y3))
            if kk % 3 == 2:
                pts.append((x0, y3))
            out.append(W_.encode_linestring(pts))
        return pd.Series(out)

    lines = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey",
        make_line(F.col("x"), F.col("y"), F.col("c_custkey")).alias(
            "geometry"
        ),
    )
    return line_metrics(lines, id_cols=["c_custkey"]).orderBy("c_custkey")


def _multipoint_oracle_sql() -> str:
    """Crafted multipoints rebuilt arithmetically: every coordinate is
    the SAME float expression the entry's builder runs, quantized to
    the 1e-6 grid per point BEFORE summation — exact BIGINT checksums
    of the codec's multi-part point walk."""
    return f"""
    WITH c AS (
      SELECT c_custkey AS k, {_CUST_X} AS x0, {_CUST_Y} AS y0
      FROM customer
    ), pts AS (
      SELECT k, x0, y0, UNNEST(generate_series(0, k % 4 + 1)) AS i
      FROM c
    ), q AS (
      SELECT k,
        CAST(FLOOR((x0 + i * ((k % 3 + 1) * 0.5)) * 1000000.0 + 0.5)
             AS BIGINT) AS qx,
        CAST(FLOOR((y0 - i * ((k % 5 + 1) * 0.25)) * 1000000.0 + 0.5)
             AS BIGINT) AS qy
      FROM pts
    )
    SELECT k AS c_custkey,
           CAST(k % 4 + 2 AS BIGINT) AS n_points,
           CAST(SUM(qx) AS BIGINT) AS x_sum_q,
           CAST(SUM(qy) AS BIGINT) AS y_sum_q
    FROM q GROUP BY k ORDER BY k
    """


@_q("geo_multipoint_checksums", _multipoint_oracle_sql())
def geo_multipoint_checksums_q(spark, sf_dir):
    """The MULTIPOINT codec path VALUE-graded — the last WKB container
    without a value oracle (VERDICT r5 item 5; closes the codec
    grading family: Point, LineString, Polygon-with-holes, MultiLine,
    MultiPolygon, and now MultiPoint all carry driver hashes): 2-5
    crafted points per key (offsets pure float functions of c_custkey)
    go through the real encode_multipoint and back through
    multipoint_metrics' part walk; the point count and the per-point-
    quantized coordinate checksums must equal the same arithmetic
    evaluated directly in SQL. A wrong part count, point stride, or
    endian mixup shifts a sum and breaks the hash."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        multipoint_metrics,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_mpoint(x: pd.Series, y: pd.Series, k: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for x0, y0, kk in zip(
            x.astype("f8"), y.astype("f8"), k.astype("i8")
        ):
            kk = int(kk)
            n = kk % 4 + 2
            pts = [
                (
                    x0 + i * ((kk % 3 + 1) * 0.5),
                    y0 - i * ((kk % 5 + 1) * 0.25),
                )
                for i in range(n)
            ]
            out.append(W_.encode_multipoint(pts))
        return pd.Series(out)

    mpts = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey",
        make_mpoint(F.col("x"), F.col("y"), F.col("c_custkey")).alias(
            "geometry"
        ),
    )
    return multipoint_metrics(mpts, id_cols=["c_custkey"]).orderBy(
        "c_custkey"
    )


def _multiline_oracle_sql() -> str:
    """Two crafted paths per key rebuilt arithmetically — the multi-part
    walk of the codec graded with the geo_line_lengths conventions."""
    return f"""
    WITH c AS (
      SELECT c_custkey AS k, {_CUST_X} AS x0, {_CUST_Y} AS y0
      FROM customer
    ), v AS (
      SELECT k, x0, y0,
             x0 + (k % 7 + 1) * 0.5 AS xa,
             y0 + (k % 5 + 1) * 0.5 AS yb,
             y0 - (k % 5 + 1) * 0.5 AS yc
      FROM c
    )
    SELECT k AS c_custkey,
           CAST(2 AS BIGINT) AS n_parts,
           CAST(5 AS BIGINT) AS n_vertices,
           CAST(FLOOR(SQRT((xa - x0) * (xa - x0) + (yb - y0) * (yb - y0))
                      * 1000000.0 + 0.5) AS BIGINT)
           + CAST(FLOOR(SQRT((xa - x0) * (xa - x0) + (yc - yc) * (yc - yc))
                        * 1000000.0 + 0.5) AS BIGINT)
           + CAST(FLOOR(SQRT((xa - xa) * (xa - xa) + (y0 - yc) * (y0 - yc))
                        * 1000000.0 + 0.5) AS BIGINT) AS length_q
    FROM v ORDER BY c_custkey
    """


@_q("geo_multiline_lengths", _multiline_oracle_sql())
def geo_multiline_lengths_q(spark, sf_dir):
    """The MULTILINESTRING codec path VALUE-graded (completing the
    geometry-type grading family: points, rect + general polygons with
    holes, linestrings, and now multi-part walks all carry driver
    hashes): two crafted paths per key through the real multi-geometry
    encoder and back through line_metrics' part walk; part/vertex
    counts and the summed per-segment-quantized length must equal the
    direct SQL arithmetic."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        line_metrics,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_mline(x: pd.Series, y: pd.Series, k: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for x0, y0, kk in zip(
            x.astype("f8"), y.astype("f8"), k.astype("i8")
        ):
            kk = int(kk)
            xa = x0 + (kk % 7 + 1) * 0.5
            yb = y0 + (kk % 5 + 1) * 0.5
            yc = y0 - (kk % 5 + 1) * 0.5
            p1 = [(x0, y0), (xa, yb)]
            p2 = [(x0, yc), (xa, yc), (xa, y0)]
            out.append(
                W_.encode_multi(
                    W_.MULTILINESTRING,
                    [W_.encode_linestring(p) for p in [p1, p2]],
                )
            )
        return pd.Series(out)

    lines = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey",
        make_mline(F.col("x"), F.col("y"), F.col("c_custkey")).alias(
            "geometry"
        ),
    )
    return line_metrics(lines, id_cols=["c_custkey"]).orderBy("c_custkey")


def _polygon_areas_oracle_sql() -> str:
    """Crafted pentagon (+conditional square hole) rebuilt
    arithmetically: vertex doubles are the builder's exact float ops,
    each shoelace cross term quantizes to the 1e-4 grid before the sum
    (order-free exact BIGINTs), holes report separately with their CW
    (negative) sign."""
    outer = [
        ("x0", "y0"),
        ("x0 + w", "y0"),
        ("x0 + w", "y0 + h"),
        ("x0 + w * 0.5", "(y0 + h) + (k % 3) * 0.5"),
        ("x0", "y0 + h"),
    ]
    hole = [
        ("x0 + 0.5", "y0 + 0.5"),
        ("x0 + 0.5", "y0 + 1.0"),
        ("x0 + 1.0", "y0 + 1.0"),
        ("x0 + 1.0", "y0 + 0.5"),
    ]

    def terms(ring):
        out = []
        for i in range(len(ring)):
            xa, ya = ring[i]
            xb, yb = ring[(i + 1) % len(ring)]
            out.append(
                f"CAST(FLOOR((({xa}) * ({yb}) - ({xb}) * ({ya}))"
                f" * 10000.0 + 0.5) AS BIGINT)"
            )
        return " + ".join(out)

    return f"""
    WITH c AS (
      SELECT c_custkey AS k, {_CUST_X} AS x0, {_CUST_Y} AS y0,
             (c_custkey % 5 + 2) * 1.0 AS w,
             (c_custkey % 4 + 2) * 1.0 AS h
      FROM customer
    )
    SELECT k AS c_custkey,
           CAST(1 AS BIGINT) AS n_parts,
           CAST(CASE WHEN k % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS n_rings,
           {terms(outer)} AS outer_q,
           CASE WHEN k % 2 = 0 THEN {terms(hole)} ELSE 0 END AS holes_q
    FROM c ORDER BY c_custkey
    """


@_q("geo_polygon_areas", _polygon_areas_oracle_sql())
def geo_polygon_areas_q(spark, sf_dir):
    """The Polygon codec (ring walk + hole split + orientation)
    VALUE-graded: crafted pentagons with conditional CW square holes go
    through the real WKB encoder and back through polygon_metrics'
    decode; ring counts and signed quantized shoelace sums (outer vs
    holes) must equal the same arithmetic evaluated directly in SQL."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        polygon_metrics,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_poly(x: pd.Series, y: pd.Series, k: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        out = []
        for x0, y0, kk in zip(
            x.astype("f8"), y.astype("f8"), k.astype("i8")
        ):
            kk = int(kk)
            w = (kk % 5 + 2) * 1.0
            h = (kk % 4 + 2) * 1.0
            outer = [
                (x0, y0),
                (x0 + w, y0),
                (x0 + w, y0 + h),
                (x0 + w * 0.5, (y0 + h) + (kk % 3) * 0.5),
                (x0, y0 + h),
                (x0, y0),
            ]
            rings = [outer]
            if kk % 2 == 0:
                rings.append(
                    [
                        (x0 + 0.5, y0 + 0.5),
                        (x0 + 0.5, y0 + 1.0),
                        (x0 + 1.0, y0 + 1.0),
                        (x0 + 1.0, y0 + 0.5),
                        (x0 + 0.5, y0 + 0.5),
                    ]
                )
            out.append(W_.encode_polygon(rings))
        return pd.Series(out)

    polys = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey",
        make_poly(F.col("x"), F.col("y"), F.col("c_custkey")).alias(
            "geometry"
        ),
    )
    return polygon_metrics(polys, id_cols=["c_custkey"]).orderBy(
        "c_custkey"
    )


def _multipolygon_oracle_sql() -> str:
    """Two crafted rects per key (first with a conditional hole) — the
    MULTIPOLYGON part walk graded with geo_polygon_areas' quantized
    signed-shoelace conventions. Rect rings are written CCW, holes CW;
    each cross term quantizes before the sum."""

    def rect_terms(x0, y0, x1, y1, ccw=True):
        pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        if not ccw:
            pts = pts[::-1]
        out = []
        for i in range(4):
            xa, ya = pts[i]
            xb, yb = pts[(i + 1) % 4]
            out.append(
                f"CAST(FLOOR((({xa}) * ({yb}) - ({xb}) * ({ya}))"
                f" * 10000.0 + 0.5) AS BIGINT)"
            )
        return " + ".join(out)

    r1 = rect_terms("x0", "y0", "x0 + w", "y0 + h")
    r2 = rect_terms("x0 + w + 1.0", "y0", "x0 + w + 1.0 + 2.0", "y0 + 1.5")
    hole = rect_terms(
        "x0 + 0.5", "y0 + 0.5", "x0 + 1.0", "y0 + 1.0", ccw=False
    )
    return f"""
    WITH c AS (
      SELECT c_custkey AS k, {_CUST_X} AS x0, {_CUST_Y} AS y0,
             (c_custkey % 5 + 2) * 1.0 AS w,
             (c_custkey % 4 + 2) * 1.0 AS h
      FROM customer
    )
    SELECT k AS c_custkey,
           CAST(2 AS BIGINT) AS n_parts,
           CAST(CASE WHEN k % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_rings,
           ({r1}) + ({r2}) AS outer_q,
           CASE WHEN k % 2 = 0 THEN {hole} ELSE 0 END AS holes_q
    FROM c ORDER BY c_custkey
    """


@_q("geo_multipolygon_areas", _multipolygon_oracle_sql())
def geo_multipolygon_areas_q(spark, sf_dir):
    """The MULTIPOLYGON codec path VALUE-graded (closing the multi-part
    family next to geo_multiline_lengths): two crafted rects per key —
    the first with a conditional CW hole — through encode_multi and
    back through polygon_metrics' part walk; part/ring counts and the
    summed signed shoelace per ring class must equal direct SQL
    arithmetic."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        polygon_metrics,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TT.BinaryType())
    def make_mpoly(x: pd.Series, y: pd.Series, k: pd.Series) -> pd.Series:
        from iceberg_geospatial_api_server_spark.geo import wkb as W_

        def rect(x0, y0, x1, y1, ccw=True):
            pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
            if not ccw:
                pts = pts[::-1]
            return pts + [pts[0]]

        out = []
        for x0, y0, kk in zip(
            x.astype("f8"), y.astype("f8"), k.astype("i8")
        ):
            kk = int(kk)
            w = (kk % 5 + 2) * 1.0
            h = (kk % 4 + 2) * 1.0
            rings1 = [rect(x0, y0, x0 + w, y0 + h)]
            if kk % 2 == 0:
                rings1.append(
                    rect(x0 + 0.5, y0 + 0.5, x0 + 1.0, y0 + 1.0, ccw=False)
                )
            rings2 = [
                rect(x0 + w + 1.0, y0, x0 + w + 1.0 + 2.0, y0 + 1.5)
            ]
            out.append(
                W_.encode_multi(
                    W_.MULTIPOLYGON,
                    [W_.encode_polygon(r) for r in [rings1, rings2]],
                )
            )
        return pd.Series(out)

    polys = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey",
        make_mpoly(F.col("x"), F.col("y"), F.col("c_custkey")).alias(
            "geometry"
        ),
    )
    return polygon_metrics(polys, id_cols=["c_custkey"]).orderBy(
        "c_custkey"
    )


@_q(
    "geo_simplify_parity",
    """
    SELECT c_custkey,
           CAST(21 AS BIGINT) AS n_before,
           CAST(CASE WHEN c_custkey % 5 + 1 > 2 THEN 5 ELSE 2 END
                AS BIGINT) AS n_after
    FROM customer ORDER BY c_custkey
    """,
)
def geo_simplify_parity_q(spark, sf_dir):
    """Douglas-Peucker VALUE-graded (the crafted-fixture form of
    geo_simplify, which stays rows-only over organic zigzags): each
    key's polyline is 21 collinear baseline points with ONE spike of
    exact integer height h = k % 5 + 1 at the midpoint x=10; at
    tolerance 2.5 the spike survives iff h > 2.5, and a surviving
    spike's recursion ALSO keeps its two shoulders: in the [0..10]
    half the farthest point from the (0,0)-(10,h) chord is (9,0) at
    9h/√(100+h²) — 2.586/3.34/4.02 for h=3/4/5, each > 2.5 — after
    which every remaining point is exactly on its chord. So n_after is
    exactly 5 ({0, 9, spike, 11, 20}) for h ∈ {3,4,5} and 2 for
    h ∈ {1,2} — the oracle encodes the full two-level recursion, so a
    wrong deviation formula, split point, or comparison direction
    breaks the hash. No graded value sits near a float boundary
    (closest margin 2.586 vs 2.5)."""
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    from iceberg_geospatial_api_server_spark.geo import wkb as W_
    from iceberg_geospatial_api_server_spark.geo.functions import (
        st_simplify,
    )

    @pandas_udf(TT.BinaryType())
    def make_spike(key: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for k in key:
            xs = np.arange(21, dtype="f8")
            ys = np.zeros(21)
            ys[10] = float(int(k) % 5 + 1)
            out.append(W_.encode_linestring(np.column_stack([xs, ys])))
        return pd.Series(out)

    @pandas_udf(TT.LongType())
    def n_vertices(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            _, payload = W_.decode(bytes(buf))
            out.append(len(payload))
        return pd.Series(out, dtype="int64")

    lines = _t(spark, sf_dir, "customer").select(
        "c_custkey", make_spike(F.col("c_custkey")).alias("geometry")
    )
    simplified = lines.select(
        "c_custkey", st_simplify(2.5)(F.col("geometry")).alias("__s"),
        F.col("geometry"),
    )
    return simplified.select(
        "c_custkey",
        n_vertices(F.col("geometry")).alias("n_before"),
        n_vertices(F.col("__s")).alias("n_after"),
    ).orderBy("c_custkey")


@_q("geo_simplify")  # rows-only (Douglas-Peucker not SQL-expressible)
def geo_simplify(spark, sf_dir):
    """ST_Simplify over synthetic zigzag polylines derived from orders
    (ref api/main.py:368-378): output vertex counts before/after."""
    from iceberg_geospatial_api_server_spark.geo.functions import st_simplify
    from pyspark.sql import types as TT
    from pyspark.sql.functions import pandas_udf

    from iceberg_geospatial_api_server_spark.geo import wkb as W_

    @pandas_udf(TT.BinaryType())
    def make_zigzag(key: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for k in key:
            xs = np.arange(20, dtype="f8")
            ys = np.where(xs % 2 == 0, 0.0, (float(k) % 7) / 100.0)
            out.append(W_.encode_linestring(np.column_stack([xs, ys])))
        return pd.Series(out)

    @pandas_udf(TT.IntegerType())
    def n_vertices(geom: pd.Series) -> pd.Series:
        return pd.Series(
            [len(W_.decode(b)[1]) if b is not None else 0 for b in geom]
        )

    orders = _t(spark, sf_dir, "orders").limit(500)
    lines = orders.select(
        "o_orderkey", make_zigzag(F.col("o_orderkey")).alias("geometry")
    )
    simplified = lines.withColumn("simple", st_simplify(0.05)(F.col("geometry")))
    return simplified.select(
        "o_orderkey",
        n_vertices(F.col("geometry")).alias("n_before"),
        n_vertices(F.col("simple")).alias("n_after"),
    )


# ===========================================================================
# G. LLM-data-pipeline operators
# ===========================================================================

# portable md5-prefix hash, as DuckDB SQL (mirrors
# operators.dedup.word_hash exactly: first 60 bits of md5, mod 2^31-1)
_WHASH = "(('0x' || substr(md5({w}), 1, 15))::BIGINT % 2147483647)"

# distinct word-trigram STRINGS of `text` (decontaminate hashes these
# post-explode with _WHASH, mirroring operators.text.decontaminate)
_GRAM_STRS = (
    "list_distinct(list_transform("
    "  generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),"
    "  i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))"
)

# distinct hashed word-trigram shingles of `text` (mirrors
# operators.dedup.shingle_hashes with k=3)
_GRAMS = (
    "list_distinct(list_transform("
    "  generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),"
    "  i -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
    "         list_transform(string_split(text, ' ')[i:i+2],"
    f"          w -> {_WHASH.format(w='w')})),"
    "       (a, b) -> (a * 1000003 + b) % 2147483647)))"
)


@_q(
    "text_profile",
    f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LEN(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct_tokens,
           CAST(LEN(list_filter(string_split(text, ' '),
                    w -> regexp_matches(w, '^[a-zA-Z]+$')))
                + 2 * LEN(list_filter(string_split(text, ' '),
                    w -> regexp_matches(w, '^[0-9]+$')))
                + 3 * LEN(list_filter(string_split(text, ' '),
                    w -> NOT regexp_matches(w, '^[a-zA-Z0-9]*$')))
             AS BIGINT) AS n_wordpieces,
           ROUND(0.4 * (LEN(list_distinct(string_split(text, ' ')))::DOUBLE
                         / LEN(string_split(text, ' '))::DOUBLE)
                 + 0.3 * LEAST(LEN(string_split(text, ' '))::DOUBLE / 100.0, 1.0)
                 + 0.3 * (LEN(list_filter(string_split(text, ' '),
                             w -> regexp_matches(w, '^[a-zA-Z]+$')))::DOUBLE
                          / LEN(string_split(text, ' '))::DOUBLE), 6) AS quality,
           {_WHASH.format(w='text')} AS fingerprint
    FROM documents
    """,
)
def text_profile_q(spark, sf_dir):
    from pyspark.sql import functions as FF

    from iceberg_geospatial_api_server_spark.operators.text import text_profile
    from iceberg_geospatial_api_server_spark.util import spread

    # spread: regex-heavy per-doc map over a single-row-group scan
    # (0.91s -> 0.31s at sf0.1); output is per-doc and order-free
    prof = text_profile(spread(_t(spark, sf_dir, "documents"), None))
    return prof.select(
        "doc_id",
        FF.col("n_chars").cast("long").alias("n_chars"),
        FF.col("n_tokens").cast("long").alias("n_tokens"),
        FF.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        FF.col("n_wordpieces").cast("long").alias("n_wordpieces"),
        "quality",
        "fingerprint",
    )


def _langid_oracle() -> str:
    from iceberg_geospatial_api_server_spark.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score = {
        lang: (
            "LEN(list_filter(string_split(text, ' '), w -> list_contains(["
            + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
            + "], w)))"
        )
        for lang in langs
    }
    # first-max-wins over the sorted lang order (mirrors text.language_id)
    cases = []
    for i, lang in enumerate(langs):
        earlier = [score[m] for m in langs[:i]]
        later = [score[m] for m in langs[i + 1 :]]
        conds = [f"{score[lang]} > 0"]
        conds += [f"{score[lang]} > {e}" for e in earlier]
        conds += [f"{score[lang]} >= {l}" for l in later]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"SELECT doc_id, lang, {case_sql} AS lang_pred FROM documents"


@_q("text_language_id", None)  # oracle attached below (generated)
def text_langid_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_id(F.col("text")).alias("lang_pred"))


ORACLES["text_language_id"] = _langid_oracle()


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
           MIN(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"))


@_q(
    "dedup_keep_first_prefix",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents
      GROUP BY md5(array_to_string(string_split(text, ' ')[1:6], ' ')))
    """,
)
def dedup_keep_first_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_exact_keep_first,
    )

    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6)))
    return dedup_exact_keep_first(docs, key).select("doc_id", "lang", "source")


@_q(
    "ngram_jaccard_pairs",
    f"""
    WITH t AS (SELECT doc_id, lang, {_GRAMS} AS grams FROM documents)
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             LEN(list_intersect(a.grams, b.grams))::DOUBLE /
               (LEN(a.grams) + LEN(b.grams)
                - LEN(list_intersect(a.grams, b.grams)))::DOUBLE AS jaccard
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.3
    """,
)
def ngram_jaccard_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.3)


@_q(
    "dedup_recall_contract",
    f"""
    WITH t AS (SELECT doc_id, lang, {_GRAMS} AS grams FROM documents),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE LEN(list_intersect(a.grams, b.grams))::DOUBLE /
              (LEN(a.grams) + LEN(b.grams)
               - LEN(list_intersect(a.grams, b.grams)))::DOUBLE >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
    FROM truth
    """,
)
def dedup_recall_contract_q(spark, sf_dir):
    """The production minhash-LSH dedup path's RECALL CONTRACT
    value-graded (late r7 — the ann_recall_contract pattern applied to
    dedup: the LSH entry is rows-only by nature and its recall was
    pytest-asserted only): ground truth = exact lang-blocked trigram
    Jaccard ≥ 0.5 pairs (one SQL join both engines — the already-graded
    ngram_jaccard machinery), candidates = `dedup_minhash_lsh` at its
    PRODUCTION defaults (16 hashes × 4 bands, verify 0.5,
    storage_level=None for the bare grading session). Graded as the
    integer-exact boolean `100·hits ≥ 60·n_truth` — measured recall is
    1.0 at all 3 SFs (truth 8/6/79 pairs, all recovered: this corpus'
    J≥0.5 mass sits at high similarity where 4-band collision ≈ 1; the
    60% bar leaves room for a corpus with genuine J≈0.5 boundary pairs,
    where banded LSH's collision probability is ~0.23 by design — the
    price of never scanning the pair space). Every stage is
    deterministic (fixed
    permutation family), so the measured recall is a constant of the
    corpus, not a distribution; a broken band index or signature kernel
    collapses hits to ~0 and the hash goes red. The truth subtree is
    consumed ONCE (left-join indicator, not count+semi-join — the r7
    single-pass convention); pytest re-checks at a 0.7 bar
    (tests/test_dedup_ann.py)."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_minhash_lsh,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    lsh = (
        dedup_minhash_lsh(docs, verify_threshold=0.5, storage_level=None)
        .select("id_a", "id_b")
        .withColumn("__hit", F.lit(1))
    )
    joined = truth.join(lsh, ["id_a", "id_b"], "left")
    # SUM over zero rows is NULL: an empty truth set must grade the
    # vacuous contract TRUE (matching the oracle's literal), not NULL
    # (review finding)
    hits = F.coalesce(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))), F.lit(0)
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        (F.lit(100) * hits >= F.lit(60) * F.count(F.lit(1))).alias(
            "recall_ok"
        ),
    )


@_q(
    "text_ngram_topk",
    """
    SELECT gram, COUNT(*) AS freq FROM (
      SELECT UNNEST(list_transform(
        generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS gram
      FROM documents)
    GROUP BY gram ORDER BY freq DESC, gram LIMIT 25
    """,
)
def text_ngram_topk(spark, sf_dir):
    """Top-25 word trigrams corpus-wide: the explode→count→top-k shape.
    At scale the explode fans out map-side and partial aggregation
    collapses the long tail before the shuffle."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        trigram_strings,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(trigram_strings(F.col("text"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "gram")
        .limit(25)
    )


@_q(
    "doc_length_histogram",
    """
    SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def doc_len_hist(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("long")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("bucket")
    )


@_q("dedup_minhash_lsh")  # rows-only: minhash permutation mins not SQL-practical
def dedup_minhash_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(_t(spark, sf_dir, "documents"), verify_threshold=0.5)


@_q("dedup_simhash")  # rows-only
def dedup_simhash_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.dedup import dedup_simhash

    return dedup_simhash(
        _t(spark, sf_dir, "documents"), bits=32, hamming_threshold=2, block_bits=8
    )


@_q(
    "embed_neardup_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) > 0.40
    """,
)
def embed_neardup_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.ann import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.40)


@_q(
    "ann_bruteforce_topk",
    """
    SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rn AS INT) AS rank
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id IN (0, 101, 202, 303, 404)) q
      CROSS JOIN embeddings b)
    WHERE rn <= 10
    """,
)
def ann_bf_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return brute_force_topk(emb, queries_df, k=10)


@_q(
    "ann_ivf_incremental",
    """
    SELECT q_id, vec_id, CAST(rn AS INT) AS rank,
           TRUE AS recall_ok, TRUE AS inc_eq_full
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings
            WHERE vec_id % 53 = 0 AND vec_id <= 2650
              AND embedding IS NOT NULL AND LEN(embedding) > 0) q
      CROSS JOIN (SELECT * FROM embeddings
                  WHERE embedding IS NOT NULL AND LEN(embedding) > 0) b)
    WHERE rn <= 10
    """,
)
def ann_ivf_incremental_q(spark, sf_dir):
    """INCREMENTAL IVF index maintenance externally graded (r8 — the
    first driver-graded entry for the PERSISTED index path, and the
    merged≡direct equivalence applied to index maintenance): the
    corpus splits 80/20 by id hash, the index builds on the old half,
    the new half APPENDS through `append_ivf_index` (assignment with
    the index's frozen stored centroids — per-batch cost is the batch,
    never a corpus rescan, the 100 TB serving shape), and THREE
    things are certified at once:
    - maintenance ≡ rebuild: every probe's ranked result from the
      incrementally-maintained index must equal the from-scratch
      full-corpus index with the same centroids — enforced IN-PLAN by
      an assert_true over the full-outer mismatch count (the r8 guard
      pattern), surfaced as the constant-TRUE `inc_eq_full` column;
    - retrieval quality: aggregate recall@10 of the incremental index
      vs the exact top-10 ≥ 50% at nlist=16/nprobe=8 (measured
      0.66-0.84 across the three SFs — ≥1.32× margin, the
      recall-contract standard; nprobe=8 here is the GRADING config
      with certified margin — production tunes nprobe per the
      recall/scan-fraction trade the ann_recall_contract family
      documents), surfaced as `recall_ok`;
    - the exact side itself: the carrier rows are the bounded probes'
      exact top-10 (q_id, vec_id, rank), fully re-derived by the SQL
      oracle — so the entry carries REAL hashable values, not only
      contract booleans.
    Probe workload bounded at any corpus size (vec_id % 53 = 0 AND
    ≤ 2650 → ≤ 51 probes, the recall-contract convention). Index
    scratch lives under /tmp keyed by sf_dir (overwrite-then-append,
    so repeated invocations are idempotent)
    (operators/ann.py append_ivf_index / save_ivf_index /
    ivf_topk_from_index; planted-divergence test in
    tests/test_dedup_ann.py)."""
    import hashlib

    from iceberg_geospatial_api_server_spark.operators.ann import (
        _seed_vectors,
        append_ivf_index,
        brute_force_topk,
        ivf_topk_from_index,
        save_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cent = _seed_vectors(old, "vec_id", "embedding", 16)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/spark_graft_ivf_inc_{tag}"
    save_ivf_index(old, f"{base}/inc", nlist=16, centroids=cent)
    append_ivf_index(spark, new, f"{base}/inc")
    save_ivf_index(emb, f"{base}/full", nlist=16, centroids=cent)
    probes = emb.filter(
        ((F.col("vec_id") % 53) == 0) & (F.col("vec_id") <= 2650)
    ).select(F.col("vec_id").alias("q_id"), "embedding")
    inc = ivf_topk_from_index(
        spark, f"{base}/inc", probes, k=10, nprobe=8
    )
    full = ivf_topk_from_index(
        spark, f"{base}/full", probes, k=10, nprobe=8
    )
    mism = (
        inc.select("q_id", "rank", F.col("vec_id").alias("__v1"))
        .join(
            full.select("q_id", "rank", F.col("vec_id").alias("__v2")),
            ["q_id", "rank"],
            "full",
        )
        .filter(
            F.col("__v1").isNull()
            | F.col("__v2").isNull()
            | (F.col("__v1") != F.col("__v2"))
        )
        .agg(F.count(F.lit(1)).alias("__nm"))
        .select(
            F.assert_true(
                F.col("__nm") == 0,
                F.concat(
                    F.lit(
                        "ann_ivf_incremental maintenance broke: "
                        "incrementally-appended index diverges from "
                        "the full rebuild on "
                    ),
                    F.col("__nm").cast("string"),
                    F.lit(
                        " (q_id, rank) slots — frozen-centroid append "
                        "must answer identically to the rebuild."
                    ),
                ),
            ).alias("__g")
        )
    )
    exact = brute_force_topk(emb, probes, k=10).select(
        "q_id", "vec_id", "rank"
    )
    rec = (
        exact.join(inc.select("q_id", "vec_id"), ["q_id", "vec_id"], "semi")
        .agg(F.count(F.lit(1)).alias("__h"))
        .crossJoin(
            F.broadcast(exact.agg(F.count(F.lit(1)).alias("__d")))
        )
        .select(
            (F.col("__h") * 2 >= F.col("__d")).alias("__recall_ok")
        )
    )
    return (
        exact.crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(mism))
        .select(
            "q_id",
            "vec_id",
            "rank",
            F.col("__recall_ok").alias("recall_ok"),
            F.when(F.isnull(F.col("__g")), F.lit(True)).alias(
                "inc_eq_full"
            ),
        )
    )


@_q(
    "ann_ivfpq_incremental",
    """
    SELECT q_id, vec_id, CAST(rn AS INT) AS rank,
           TRUE AS recall_ok, TRUE AS inc_eq_full
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings
            WHERE vec_id % 59 = 0 AND vec_id <= 2950
              AND embedding IS NOT NULL AND LEN(embedding) > 0) q
      CROSS JOIN (SELECT * FROM embeddings
                  WHERE embedding IS NOT NULL AND LEN(embedding) > 0) b)
    WHERE rn <= 10
    """,
)
def ann_ivfpq_incremental_q(spark, sf_dir):
    """INCREMENTAL maintenance of the QUANTIZED serving index (r9 —
    VERDICT r8 directive 4: `ann_ivf_incremental` graded IVF-flat
    append; the 100 TB serving architecture is IVF-PQ, so the same
    merged≡rebuilt grade now covers the PQ path): the corpus splits by
    id hash, coarse centroids AND product-quantizer codebooks train on
    the old half and FREEZE, the index builds on the old half, the new
    half APPENDS through `append_ivfpq_index` (assign + encode with the
    stored frozen quantizers — per-batch cost is the batch, never a
    corpus re-encode), and three things are certified at once:
    - maintenance ≡ rebuild: every probe's ranked ADC→refine result
      from the incrementally-appended index must equal the from-scratch
      full-corpus index with the same frozen quantizers — enforced
      IN-PLAN by an assert_true over the full-outer mismatch count,
      surfaced as the constant-TRUE `inc_eq_full` column;
    - retrieval quality: aggregate recall@10 of the incremental IVF-PQ
      index vs the exact top-10 ≥ 50% at nlist=16/nprobe=8/m=8×32
      codes/refine=16 (measured 0.69-0.84 across the three SFs —
      ≥1.38× margin, the recall-contract standard; the grading config —
      production tunes nprobe/refine per the recall contract family),
      surfaced as `recall_ok`;
    - the exact side itself: carrier rows are the bounded probes'
      exact top-10, fully re-derived by the SQL oracle (REAL hashable
      values, not only contract booleans).
    Probe workload bounded at any corpus size (vec_id % 59 = 0 AND
    ≤ 2950 → ≤ 51 probes). Index scratch under /tmp keyed by sf_dir
    (overwrite-then-append, idempotent re-runs). Scale: the persisted
    layout serves BOTH paths with pruning — the ADC sweep reads only
    the m-byte code column of probed cell partitions (32× scan-mass
    cut vs raw floats), the refine step reads vectors for shortlist
    rows only (operators/ann.py save_ivfpq_index / append_ivfpq_index /
    ivfpq_topk_from_index; planted-divergence test in
    tests/test_dedup_ann.py)."""
    import hashlib

    from iceberg_geospatial_api_server_spark.operators.ann import (
        _pq_train_codebooks,
        _seed_vectors,
        append_ivfpq_index,
        brute_force_topk,
        ivfpq_topk_from_index,
        save_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    old = emb.filter(F.col("vec_id") % 7 != 0)
    new = emb.filter(F.col("vec_id") % 7 == 0)
    cent = _seed_vectors(old, "vec_id", "embedding", 16)
    books = _pq_train_codebooks(old, "vec_id", "embedding", 8, 32, 2048)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/spark_graft_ivfpq_inc_{tag}"
    save_ivfpq_index(
        old, f"{base}/inc", nlist=16, centroids=cent, codebooks=books
    )
    append_ivfpq_index(spark, new, f"{base}/inc")
    save_ivfpq_index(
        emb, f"{base}/full", nlist=16, centroids=cent, codebooks=books
    )
    probes = emb.filter(
        ((F.col("vec_id") % 59) == 0) & (F.col("vec_id") <= 2950)
    ).select(F.col("vec_id").alias("q_id"), "embedding")
    inc = ivfpq_topk_from_index(
        spark, f"{base}/inc", probes, k=10, nprobe=8, refine=16
    )
    full = ivfpq_topk_from_index(
        spark, f"{base}/full", probes, k=10, nprobe=8, refine=16
    )
    mism = (
        inc.select("q_id", "rank", F.col("vec_id").alias("__v1"))
        .join(
            full.select("q_id", "rank", F.col("vec_id").alias("__v2")),
            ["q_id", "rank"],
            "full",
        )
        .filter(
            F.col("__v1").isNull()
            | F.col("__v2").isNull()
            | (F.col("__v1") != F.col("__v2"))
        )
        .agg(F.count(F.lit(1)).alias("__nm"))
        .select(
            F.assert_true(
                F.col("__nm") == 0,
                F.concat(
                    F.lit(
                        "ann_ivfpq_incremental maintenance broke: "
                        "incrementally-appended IVF-PQ index diverges "
                        "from the full rebuild on "
                    ),
                    F.col("__nm").cast("string"),
                    F.lit(
                        " (q_id, rank) slots — frozen-quantizer append "
                        "must answer identically to the rebuild."
                    ),
                ),
            ).alias("__g")
        )
    )
    exact = brute_force_topk(emb, probes, k=10).select(
        "q_id", "vec_id", "rank"
    )
    rec = (
        exact.join(inc.select("q_id", "vec_id"), ["q_id", "vec_id"], "semi")
        .agg(F.count(F.lit(1)).alias("__h"))
        .crossJoin(
            F.broadcast(exact.agg(F.count(F.lit(1)).alias("__d")))
        )
        .select(
            (F.col("__h") * 2 >= F.col("__d")).alias("__recall_ok")
        )
    )
    return (
        exact.crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(mism))
        .select(
            "q_id",
            "vec_id",
            "rank",
            F.col("__recall_ok").alias("recall_ok"),
            F.when(F.isnull(F.col("__g")), F.lit(True)).alias(
                "inc_eq_full"
            ),
        )
    )


@_q(
    "ann_filtered_topk",
    """
    SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rn AS INT) AS rank
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id IN (0, 101, 202, 303, 404)) q
      CROSS JOIN (SELECT * FROM embeddings WHERE label = 3) b)
    WHERE rn <= 5
    """,
)
def ann_filtered_q(spark, sf_dir):
    """Filtered vector search (metadata predicate + top-k): the named
    hard problem of vector retrieval, solved here by PRE-filtering —
    exact, and at 100 TB the right strategy whenever the predicate is
    selective (the filter pushes into the parquet scan and the search
    touches only survivors). The alternative (post-filtering an ANN
    index's results) loses recall unless you over-fetch by 1/selectivity;
    for UNselective predicates, partition the IVF index BY the
    metadata column instead (ann.ivf_topk over a label-partitioned
    table gives per-label cell lists for free)."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return brute_force_topk(emb.filter(F.col("label") == 3), queries_df, k=5)


@_q(
    "embed_hard_negatives",
    """
    WITH q AS (
      SELECT vec_id AS q_id, label AS ql,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN (0, 101, 202, 303, 404)
    ),
    s AS (
      SELECT q.q_id, q.ql, b.vec_id, b.label AS bl,
             list_cosine_similarity(q.qv,
                                    CAST(b.embedding AS DOUBLE[]))
               AS cos_sim
      FROM q CROSS JOIN embeddings b
    ),
    neg AS (
      SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM s WHERE bl <> ql
    ),
    pos AS (
      SELECT q_id, MAX(cos_sim) AS pos_raw FROM s
      WHERE bl = ql AND vec_id <> q_id GROUP BY 1
    )
    SELECT n.q_id, n.vec_id, ROUND(n.cos_sim, 6) AS cos_sim,
           CAST(n.rn AS INT) AS rank,
           ROUND(p.pos_raw, 6) AS pos_sim,
           n.cos_sim > p.pos_raw AS harder_than_pos
    FROM neg n LEFT JOIN pos p ON p.q_id = n.q_id
    WHERE n.rn <= 5
    """,
)
def embed_hard_negatives_q(spark, sf_dir):
    """Hard-negative mining for contrastive training (late r7 — the
    missing embedding-pipeline op between dedup and retrieval): per
    probe query, the 5 most-similar DIFFERENT-label vectors, the
    hardest same-label positive, and the loss-violating flag
    (`harder_than_pos`) — the exact reference a triplet/DPR pipeline
    mines against. Bounded broadcast probe set, base scored map-side
    (no corpus shuffle); the cosine fold is the bit-reproducible
    sequential kernel every ANN oracle shares
    (operators/ann.py hard_negative_topk)."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        hard_negative_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(
        F.col("vec_id").isin(0, 101, 202, 303, 404)
    ).select(F.col("vec_id").alias("q_id"), "embedding", "label")
    return hard_negative_topk(emb, queries_df, k=5)


def _matryoshka_oracle() -> str:
    probes = "(0, 101, 202, 303, 404)"

    def topk(dim: int, name: str) -> str:
        vec = (
            "CAST(embedding AS DOUBLE[])"
            if dim == 64
            else f"CAST(embedding[1:{dim}] AS DOUBLE[])"
        )
        return f"""
    {name} AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, b.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.qv, {vec}) DESC,
                          b.vec_id) AS rn
        FROM (SELECT vec_id, {vec} AS qv FROM embeddings
              WHERE vec_id IN {probes}) q
        CROSS JOIN embeddings b)
      WHERE rn <= 10
    )"""

    parts = [topk(64, "full_t")] + [
        topk(d, f"t{d}") for d in (32, 16)
    ]
    unions = " UNION ALL ".join(
        f"""
      SELECT f.q_id, {d} AS dim_kept,
             CAST(COUNT(t.vec_id) AS BIGINT) AS hits10
      FROM full_t f LEFT JOIN t{d} t
        ON t.q_id = f.q_id AND t.vec_id = f.vec_id
      GROUP BY 1, 2"""
        for d in (32, 16)
    )
    return "WITH " + ",".join(parts) + unions


@_q("embed_matryoshka_recall", _matryoshka_oracle())
def embed_matryoshka_recall_q(spark, sf_dir):
    """Matryoshka truncation-recall data card (late r7): how much
    retrieval quality survives keeping only the first 32 / 16 of 64
    embedding dimensions — the dimension-budget curve MRL-style
    deployments read before cutting index cost 2-4×. Per bounded probe,
    hits@10 = |top-10 under truncated cosine ∩ exact full-dim top-10|
    as exact integers; BOTH sides are deterministic SQL (the truncated
    search is just cosine on a sliced array), so this is a FULL value
    oracle, not a bar contract — a wrong slice bound or tie-break moves
    a hit count and the hash goes red. Same broadcast-probe map-side
    shape as ann_bruteforce_topk (no corpus shuffle). The synthetic
    embeddings are near-random (not MRL-trained), so the measured curve
    reads low (~0.40 @ 32, ~0.22 @ 16 at sf0.01) — the operator
    measures whatever structure the corpus actually has; the crafted
    test pins 10/10 when the leading dims carry all the signal."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probes = F.col("vec_id").isin(0, 101, 202, 303, 404)

    def top10(dim):
        if dim == 64:
            src = emb.select("vec_id", "embedding")
        else:
            src = emb.select(
                "vec_id", F.slice("embedding", 1, dim).alias("embedding")
            )
        q = src.filter(probes).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        return brute_force_topk(src, q, k=10).select("q_id", "vec_id")

    full_t = top10(64)
    out = None
    for d in (32, 16):
        t = top10(d).withColumn("__hit", F.lit(1))
        part = (
            full_t.join(t, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg(
                F.lit(d).cast("long").alias("dim_kept"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("hits10"),
            )
            .select("q_id", "dim_kept", "hits10")
        )
        out = part if out is None else out.unionByName(part)
    return out


@_q(
    "ann_ivfpq_exhaustive",
    """
    SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rn AS INT) AS rank
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id IN (0, 101, 202, 303, 404)) q
      CROSS JOIN embeddings b)
    WHERE rn <= 10
    """,
)
def ann_ivfpq_exhaustive_q(spark, sf_dir):
    """IVF-PQ MACHINERY hash-graded (r3 VERDICT item 4's wished-for
    companion): in the exhaustive configuration — nprobe = nlist (every
    cell probed) and refine sized so the exact re-rank covers the whole
    corpus — the pipeline's output must EQUAL brute-force top-k, which
    DuckDB verifies value-for-value. Every stage still executes (coarse
    quantizer, PQ codebook training, ADC scan, re-rank), so any stage
    that dropped or corrupted candidates would break the hash. The
    standard approximate configuration stays rows-only
    (`ann_ivfpq_topk`) with recall tests."""
    from iceberg_geospatial_api_server_spark.operators.ann import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    k = 10
    n = emb.count()
    return ivfpq_topk(
        emb, queries_df, k=k, nlist=8, nprobe=8, refine=-(-n // k)
    )


_BF_ORACLE = """
    SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rn AS INT) AS rank
    FROM (
      SELECT q.vec_id AS q_id, b.vec_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id IN (0, 101, 202, 303, 404)) q
      CROSS JOIN embeddings b)
    WHERE rn <= 10
    """


@_q("ann_ivf_exhaustive", _BF_ORACLE)
def ann_ivf_exhaustive_q(spark, sf_dir):
    """IVF-flat MACHINERY hash-graded (the `ann_ivfpq_exhaustive`
    pattern): with nprobe = nlist every inverted list is probed, so the
    candidate set is the whole corpus and the output must EQUAL
    brute-force top-k — DuckDB verifies value-for-value. The quantizer,
    list assignment, probe join and exact re-rank all still execute;
    a dropped or duplicated candidate anywhere breaks the hash. The
    approximate configuration stays rows-only (`ann_ivf_topk`)."""
    from iceberg_geospatial_api_server_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return ivf_topk(emb, queries_df, k=10, nlist=8, nprobe=8)


@_q("ann_lsh_exhaustive", _BF_ORACLE)
def ann_lsh_exhaustive_q(spark, sf_dir):
    """Hyperplane-LSH MACHINERY hash-graded: with nbits=1 and multiprobe
    (home bucket + the single 1-bit flip) every query probes BOTH
    buckets of the table, so the deduplicated candidate union is the
    whole corpus and the output must EQUAL brute-force top-k. Bucket
    hashing, the block join, candidate dedup and the exact re-rank all
    still execute. The approximate configuration stays rows-only
    (`ann_lsh_topk`)."""
    from iceberg_geospatial_api_server_spark.operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return lsh_topk(
        emb, queries_df, k=10, nbits=1, dim=64, num_tables=1, multiprobe=True
    )


@_q("ann_ivf_topk")  # rows-only: approximate by design (recall tested in tests/)
def ann_ivf_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return ivf_topk(emb, queries_df, k=10, nlist=8, nprobe=4)


@_q("ann_lsh_topk")  # rows-only: approximate by design (recall tested in tests/)
def ann_lsh_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return lsh_topk(emb, queries_df, k=10, nbits=6, dim=64, num_tables=4)


@_q(
    "ann_recall_contract",
    """
    WITH p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes
               FROM embeddings
               WHERE vec_id % 29 = 0 AND vec_id <= 2900
                 AND embedding IS NOT NULL AND LEN(embedding) > 0)
    SELECT m.method, p.n_probes, CAST(10 AS BIGINT) AS k,
           CAST(m.bar_pct AS BIGINT) AS bar_pct, TRUE AS recall_ok
    FROM (SELECT 'ivf' AS method, 50 AS bar_pct
          UNION ALL SELECT 'ivfpq', 30
          UNION ALL SELECT 'lsh', 50) m, p
    ORDER BY m.method
    """,
)
def ann_recall_contract_q(spark, sf_dir):
    """The approximate-ANN RECALL CONTRACT value-graded (r7 — the
    events_hll_contract pattern applied to retrieval quality): the
    approximate result sets themselves are config/method-specific and
    can never hash, but the contract a production ANN path is sold on —
    aggregate recall@10 against the exact top-k over a deterministic
    probe workload (vec_id % 29) — is a hashable boolean per method, in
    exact integer arithmetic (``100·hits ≥ bar_pct·k·n_probes``).

    Graded at the PRODUCTION configs of the rows-only entries
    (ann_ivf_topk: nlist=8/nprobe=4; ann_lsh_topk: 6 bits × 4 tables;
    ann_ivfpq_topk: defaults — 8×16 codebooks, refine=4), each at its
    documented bar. Measured aggregate recall across the three test
    SFs: IVF 0.711/0.722/0.732 and LSH 0.661/0.722/0.730 vs bar 50%
    (≥1.32× margin); IVF-PQ 0.583/0.561/0.423 vs bar 30% (≥1.41× — PQ
    trades recall for a 32× scan-mass cut by design, hence the lower
    documented bar). All three quantizers are fully deterministic
    (hash-threshold seed vectors; seed-7 hyperplanes; bounded-sample
    k-means codebooks), so the booleans are stable. A broken cell
    assignment, band indexing, codebook encode, or probe routing
    collapses recall toward random (k/n ≈ 0.02) and the hash goes red.
    Exact-side scoring is itself value-graded by ann_bruteforce_topk
    (full top-10 ids + 6dp cosines vs DuckDB).

    Scale shape: the probe workload is BOUNDED (vec_id % 29 = 0 AND
    vec_id ≤ 2900 →
    ≤101 probes at any corpus size; identical sets at every test SF,
    where max vec_id < 2900) so the exact side stays one scan ×
    O(bounded-probes) map-side dot products instead of growing
    quadratically with the corpus — a recall audit samples a fixed
    workload, it doesn't brute-force a linear fraction of 100 TB.
    Probes broadcast (all kernels), the expensive exact subtree is
    consumed ONCE (approx frames tag+union before the hit join),
    hit-counting joins are probe×k-bounded, and the 1-row aggregate
    crossJoins are the blessed bounded-extent pattern."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    probes = emb.filter(
        (F.col("vec_id") % 29 == 0) & (F.col("vec_id") <= 2900)
    )
    q = probes.select(F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(emb, q, k=10).select("q_id", "vec_id")
    n_probes_df = q.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))

    # tag + union the approx frames FIRST so the expensive exact
    # subtree (full-corpus brute-force scan) is joined ONCE — three
    # separate per-method joins would recompute it per consumer (the
    # brand_affinity AQE-stage-reuse lesson). The method dimension is
    # re-joined on the left afterwards so a catastrophic 0-hit method
    # still emits its (red) row instead of vanishing from the groupBy.
    spark_ = emb.sparkSession
    mdim = spark_.createDataFrame(
        [("ivf", 50), ("ivfpq", 30), ("lsh", 50)], "method string, bar_pct int"
    )
    approx_all = (
        ivf_topk(emb, q, k=10, nlist=8, nprobe=4)
        .select(F.lit("ivf").alias("method"), "q_id", "vec_id")
        .unionByName(
            ivfpq_topk(emb, q, k=10).select(
                F.lit("ivfpq").alias("method"), "q_id", "vec_id"
            )
        )
        .unionByName(
            lsh_topk(emb, q, k=10, nbits=6, dim=64, num_tables=4).select(
                F.lit("lsh").alias("method"), "q_id", "vec_id"
            )
        )
    )
    hits = (
        approx_all.join(exact, ["q_id", "vec_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    # broadcast the RIGHT (build) side: a LeftOuter BroadcastHashJoin
    # can only build right, so a hint on the left would be silently
    # dropped by the planner
    return (
        mdim.join(F.broadcast(hits), "method", "left")
        .crossJoin(n_probes_df)
        .select(
            "method",
            "n_probes",
            F.lit(10).cast("long").alias("k"),
            F.col("bar_pct").cast("long").alias("bar_pct"),
            (
                F.coalesce(F.col("hits"), F.lit(0)) * 100
                >= F.col("bar_pct") * F.col("n_probes") * 10
            ).alias("recall_ok"),
        )
        .orderBy("method")
    )


@_q(
    "mm_media_stats",
    """
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
           COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MIN(octet_length(encode(text))) AS BIGINT) AS min_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def mm_stats_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        media_stats,
        synthesize_media,
    )

    return media_stats(synthesize_media(_t(spark, sf_dir, "documents")))


@_q(
    "mm_frame_sample",
    """
    SELECT doc_id, 'mp4' AS codec,
           CAST(UNNEST(generate_series(0, CAST(doc_id % 30 AS BIGINT), 5)) AS BIGINT)
             AS frame_idx
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def mm_frames_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        frame_sample,
        synthesize_media,
    )

    media = synthesize_media(_t(spark, sf_dir, "documents"))
    return frame_sample(media, every_k=5).select(
        "doc_id", "codec", F.col("frame_idx").cast("long").alias("frame_idx")
    )


def _mm_extract_oracle_sql() -> str:
    """Per-doc stub features reproduced in SQL (the per-row form of
    _mm_features_oracle_sql): feat_value = bucket_count / n_bytes is ONE
    IEEE double division on both engines, so raw values hash with no
    rounding; feat_idx/doc_id/n_bytes are exact integers."""
    return """
    WITH h AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             strlen(text) AS n_bytes, text
      FROM documents WHERE strlen(text) > 0
    )
    SELECT doc_id, modality, n_bytes,
           CAST(t.b AS BIGINT) AS feat_idx,
           CAST(LEN(list_filter(string_split_regex(text, ''),
                    c -> ascii(c) // 32 = t.b)) AS DOUBLE)
             / CAST(n_bytes AS DOUBLE) AS feat_value
    FROM h CROSS JOIN range(8) AS t(b)
    """


@_q("mm_extract_features", _mm_extract_oracle_sql())
def mm_features_q(spark, sf_dir):
    """mapInPandas stub decode kernel, exploded to (doc, feat_idx) rows so
    every cell is scalar (the r4 driver ERR was the raw array column —
    pandas sort_values cannot factorize lists; ADVICE r3 item 2's
    embed_quantize_int8 fix pattern) AND value-oracled: the 8-bucket byte
    histogram is SQL-expressible over the ASCII corpus, so the per-doc
    kernel output is now graded value-for-value, not just the
    mm_features_stats aggregate."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    media = synthesize_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, stub=True)
    return feats.filter(F.col("features").isNotNull()).select(
        "doc_id",
        "modality",
        "n_bytes",
        F.posexplode("features").alias("feat_idx", "feat_value"),
    ).withColumn("feat_idx", F.col("feat_idx").cast("long"))


def _mm_features_oracle_sql() -> str:
    """The stub feature kernel (8-bucket byte histogram, L1-normalized)
    reproduced in SQL: the corpus is ASCII-only, so UTF-8 payload bytes
    ≡ characters and bucket = ascii(c) // 32."""
    fcols = ",\n           ".join(
        f"ROUND(SUM(f[{i + 1}]), 6) AS f{i}" for i in range(8)
    )
    return f"""
    WITH h AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             strlen(text) AS n_bytes,
             list_transform(generate_series(0, 7), b ->
               CAST(LEN(list_filter(string_split_regex(text, ''),
                        c -> ascii(c) // 32 = b)) AS DOUBLE)
               / CAST(strlen(text) AS DOUBLE)) AS f
      FROM documents WHERE strlen(text) > 0
    )
    SELECT modality, COUNT(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
           {fcols}
    FROM h GROUP BY modality ORDER BY modality
    """


@_q("mm_features_stats", _mm_features_oracle_sql())
def mm_features_stats_q(spark, sf_dir):
    """Hash-graded companion to the rows-only mm_extract_features (r3
    VERDICT item 4): the full synthesize→mapInPandas→stub-decode
    pipeline aggregated per modality, so DuckDB verifies the Arrow
    kernel's feature math value-for-value (the stub histogram is
    SQL-expressible over the ASCII corpus; the real PNG/WAV decode
    stays rows-only by nature)."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    media = synthesize_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, stub=True)
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").cast("long").alias("sum_bytes"),
            *[
                F.round(F.sum(F.col("features")[i]), 6).alias(f"f{i}")
                for i in range(8)
            ],
        )
        .orderBy("modality")
    )


@_q("mm_real_decode_stats")  # rows-only: binary decode isn't SQL-expressible
def mm_real_decode_q(spark, sf_dir):
    """REAL decode path end-to-end, distributed: encode genuine PNG/WAV
    payloads per doc (mapInPandas), decode them back through the stdlib
    codec kernel, aggregate per modality. Proves the non-stub kernel under
    the driver protocol (stable rows: 2 modalities with deterministic
    counts and feature sums)."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        extract_features,
        synthesize_real_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_features(synthesize_real_media(docs), stub=False)
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.element_at("features", 4)), 4).alias("sum_feat4"),
            F.round(F.avg(F.element_at("features", 1)), 4).alias("avg_feat1"),
        )
        .orderBy("modality")
    )


_MM_DECODE_PARITY_SQL = """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    img AS (
      SELECT doc_id, 12 + doc_id % 5 AS h, 16 + doc_id % 7 AS w
      FROM d WHERE doc_id % 2 = 0
    ),
    ipx AS (
      SELECT doc_id,
             ((p % w) * 255) // (w - 1) AS r,
             ((p // w) * 255) // (h - 1) AS g,
             (((p % w) + (p // w) + doc_id) % 2) * 255 AS b
      FROM (SELECT doc_id, h, w,
                   unnest(generate_series(0, h * w - 1)) AS p
            FROM img)
    ),
    istats AS (
      SELECT doc_id, 'image' AS modality,
             CAST(COUNT(*) * 3 AS BIGINT) AS n_values,
             CAST(SUM(r + g + b) AS BIGINT) AS sum_val,
             CAST(SUM(r + g + b) AS BIGINT) AS sum_abs,
             CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS BIGINT) AS min_val,
             CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS BIGINT) AS max_val
      FROM ipx GROUP BY doc_id
    ),
    apx AS (
      SELECT doc_id, (doc_id * 1103 + i * 9973) % 65521 - 32760 AS s
      FROM (SELECT doc_id, unnest(generate_series(0, 799)) AS i
            FROM d WHERE doc_id % 2 = 1)
    ),
    astats AS (
      SELECT doc_id, 'audio' AS modality,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(s) AS BIGINT) AS sum_val,
             CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
             CAST(MIN(s) AS BIGINT) AS min_val,
             CAST(MAX(s) AS BIGINT) AS max_val
      FROM apx GROUP BY doc_id
    )
    SELECT * FROM istats UNION ALL SELECT * FROM astats
    """


_MM_RESIZE_PARITY_SQL = """
    WITH d AS (
      SELECT doc_id, 12 + doc_id % 5 AS h, 16 + doc_id % 7 AS w
      FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0
    ),
    px AS (
      SELECT doc_id, w, h,
             ((p % 8) * w) // 8 AS sx,
             ((p // 8) * h) // 6 AS sy
      FROM (SELECT doc_id, h, w,
                   unnest(generate_series(0, 47)) AS p
            FROM d)
    ),
    vals AS (
      SELECT doc_id,
             (sx * 255) // (w - 1) AS r,
             (sy * 255) // (h - 1) AS g,
             ((sx + sy + doc_id) % 2) * 255 AS b
      FROM px
    )
    SELECT doc_id, 'image' AS modality,
           CAST(COUNT(*) * 3 AS BIGINT) AS n_values,
           CAST(SUM(r + g + b) AS BIGINT) AS sum_val,
           CAST(SUM(r + g + b) AS BIGINT) AS sum_abs,
           CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS BIGINT) AS min_val,
           CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS BIGINT) AS max_val
    FROM vals GROUP BY doc_id ORDER BY doc_id
    """


@_q("mm_resize_parity", _MM_RESIZE_PARITY_SQL)
def mm_resize_parity_q(spark, sf_dir):
    """The REAL nearest-neighbor resize kernel VALUE-graded: crafted
    integer-content PNGs resize 8×6 through resize_images (decode →
    numpy index-grid resample → re-encode) and back through the content
    decoder; the resampled integer stats must equal the closed-form
    index arithmetic (sx = c·w//8, sy = r·h//6 into the gradient+checker
    forms) evaluated directly in SQL. Grades decode+resample+re-encode
    round trip — an off-by-one in the index grid shifts a sum."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        decode_content_stats,
        resize_images,
        synthesize_crafted_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 2 == 0)
    )
    media = synthesize_crafted_media(docs).select(
        "doc_id",
        "payload",
        "modality",
        "codec",
        (F.col("doc_id") % 7 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 5 + 12).cast("int").alias("height"),
    )
    resized = resize_images(media, target_w=8, target_h=6)
    return decode_content_stats(
        resized.select("doc_id", "payload", "codec")
    ).orderBy("doc_id")


@_q("mm_decode_parity", _MM_DECODE_PARITY_SQL)
def mm_decode_parity_q(spark, sf_dir):
    """The REAL PNG/WAV decode machinery under a full value oracle
    (VERDICT r4 item 3b): a crafted corpus whose decoded content is pure
    integer arithmetic of doc_id goes through the genuine encoders
    (zlib/Paeth PNG, 16-bit PCM WAV) and back through the stdlib decode
    kernel; per-item integer content stats must equal closed-form SQL.
    Wrong filter reversal, byte order, or sample scaling shifts a sum and
    breaks the hash — this closes the last oracle-less machinery gap."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        decode_content_stats,
        synthesize_crafted_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return decode_content_stats(synthesize_crafted_media(docs))


# ===========================================================================
# A. Catalog
# ===========================================================================


@_q(
    "catalog_row_counts",
    """
    SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'region', COUNT(*) FROM region
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    """,
)
def row_counts(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.catalog import FsCatalog

    return FsCatalog(spark, sf_dir).row_counts()


@_q(
    "catalog_table_files",
    """
    SELECT 'customer' AS tbl, 1 AS n_files, COUNT(*) AS total_records FROM customer
    UNION ALL SELECT 'documents', 1, COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', 1, COUNT(*) FROM embeddings
    UNION ALL SELECT 'events', 1, COUNT(*) FROM events
    UNION ALL SELECT 'lineitem', 1, COUNT(*) FROM lineitem
    UNION ALL SELECT 'nation', 1, COUNT(*) FROM nation
    UNION ALL SELECT 'orders', 1, COUNT(*) FROM orders
    UNION ALL SELECT 'part', 1, COUNT(*) FROM part
    UNION ALL SELECT 'region', 1, COUNT(*) FROM region
    UNION ALL SELECT 'supplier', 1, COUNT(*) FROM supplier
    """,
)
def table_files_q(spark, sf_dir):
    """Iceberg `.files` metadata-table analog (cookbook §1.7): per-table
    file count + record count from parquet footers (no data scan)."""
    from iceberg_geospatial_api_server_spark.catalog import FsCatalog

    files = FsCatalog(spark, sf_dir).table_files()
    return files.groupBy("tbl").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("record_count").alias("total_records"),
    )


# --- TPC-H join-shape extensions (outer / anti / correlated subqueries) ----


@_q(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem, orders, customer, supplier,
         nation n1, nation n2, region r1, region r2
    WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND l_suppkey = s_suppkey
      AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      AND n1.n_regionkey = r1.r_regionkey AND n2.n_regionkey = r2.r_regionkey
      AND ((r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
           OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q7(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q7_volume_shipping,
    )

    return q7_volume_shipping(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@_q(
    "q8_market_share",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           ROUND(
             CAST(SUM(CASE WHEN n1.n_name = 'NATION_2'
                   THEN CAST(l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l_discount AS DECIMAL(18,6)))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE),
             6) AS mkt_share
    FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
      AND r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q8(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q8_market_share,
    )

    return q8_market_share(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@_q(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q13_customer_distribution,
    )

    return q13_customer_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@_q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total = (SELECT MAX(total) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q15_top_supplier,
    )

    return q15_top_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


@_q(
    "q17_small_qty_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l1, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#13' AND p_type = 'SMALL'
      AND 5 * CAST(l_quantity AS DECIMAL(18,2))
            * (SELECT COUNT(*) FROM lineitem l2
               WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q17_small_quantity_revenue,
    )

    return q17_small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@_q(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def q21(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q21_waiting_suppliers,
    )

    return q21_waiting_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@_q(
    "q22_lapsed_customers",
    """
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c_nationkey IN (10, 11, 12, 13, 14, 15, 16)
      AND CAST(c_acctbal AS DECIMAL(18,2))
            * (SELECT COUNT(*) FROM customer
               WHERE c_acctbal > 0
                 AND c_nationkey IN (10, 11, 12, 13, 14, 15, 16))
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
             WHERE c_acctbal > 0
               AND c_nationkey IN (10, 11, 12, 13, 14, 15, 16))
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c.c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q22(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q22_lapsed_customers,
    )

    return q22_lapsed_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@_q("embed_kmeans_profile")  # rows-only: iterative algorithm (Lloyd's) —
# determinism + inertia-decrease asserted in tests/test_dedup_ann.py
def embed_kmeans_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.ann import (
        kmeans_cluster_profile,
    )

    # storage_level=None: the driver session runs 100+ entries back to
    # back — a per-entry MEMORY_AND_DISK pin would accumulate (stale
    # CacheManager entries tax later plan-matching, r3 finding)
    return kmeans_cluster_profile(
        _t(spark, sf_dir, "embeddings"), k=8, iters=4, storage_level=None
    )


def _bpe_merges_oracle(num_merges: int = 8) -> str:
    """The BPE merge RECURSION unrolled as chained CTEs (the
    kmeans_exact_census grading pattern applied to the last
    rows-only-by-nature family, VERDICT r6 missing-item 3): per merge,
    the weighted adjacent-pair argmax (count DESC, pair ASC — the
    Sennrich tiebreak bpe_train uses) and the leftmost-greedy rewrite.

    The rewrite rides plain string REPLACE: each symbol is wrapped
    `|s|` and the state is their concatenation, so the merge (a, b) is
    `replace(state, '|a||b|', '|ab|')` — REPLACE consumes
    non-overlapping matches left-to-right, which IS leftmost-greedy
    ("a a a" + (a,a) → "aa a"; "a b a b" → "ab ab" — both pinned in
    tests/test_bpe.py for the Spark fold). Sound because the corpus is
    ASCII 32-121 with no '|' (checked at oracle-authoring time; a '|'
    in data would break only the ORACLE, loudly). Early stop
    (min_pair_count=2) is emulated: a filtered-out merge row makes the
    pattern coalesce to chr(1) (a no-op replace), the state freezes,
    and every later argmax re-finds the same sub-threshold pair and is
    filtered too — exactly the Spark break.

    Every CTE is MATERIALIZED: each level references its predecessor
    three times (the FROM plus two scalar subqueries in the replace),
    so DuckDB's default CTE inlining re-expands the whole chain
    3^merges times — the plain form never finishes at 8 merges; the
    materialized form runs in ~0.1s."""
    parts = [
        """
    WITH s0 AS MATERIALIZED (
      SELECT '|' || array_to_string(
               list_append(string_split_regex(w, ''), '</w>'), '||'
             ) || '|' AS s,
             CAST(freq AS BIGINT) AS freq
      FROM (
        SELECT w, COUNT(*) AS freq
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        WHERE w != '' GROUP BY w
      )
    )"""
    ]
    for i in range(num_merges):
        parts.append(
            f"""
    p{i} AS MATERIALIZED (
      SELECT u[1] AS a, u[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq,
               UNNEST(list_zip(syms, syms[2:])) AS u
        FROM (SELECT freq,
                     string_split(substring(s, 2, length(s) - 2), '||')
                       AS syms
              FROM s{i})
      )
      WHERE u[2] IS NOT NULL
      GROUP BY 1, 2
    ),
    m{i} AS MATERIALIZED (
      SELECT * FROM (
        SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
      ) WHERE cnt >= 2
    ),
    s{i + 1} AS MATERIALIZED (
      SELECT replace(
               s,
               coalesce((SELECT '|' || a || '||' || b || '|' FROM m{i}),
                        chr(1)),
               coalesce((SELECT '|' || a || b || '|' FROM m{i}), chr(1))
             ) AS s,
             freq
      FROM s{i}
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS rank, a AS left_sym, b AS right_sym, cnt AS"
        f" pair_count FROM m{i}"
        for i in range(num_merges)
    )
    return (
        ",".join(parts)
        + f"""
    SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, pair_count
    FROM ({union})
    ORDER BY rank
    """
    )


@_q("corpus_bpe_merges", _bpe_merges_oracle(8))
def corpus_bpe_merges_q(spark, sf_dir):
    """The BPE merge LEARNING value-graded (VERDICT r6 missing-item 3 —
    the last no-value-oracle family outside real binary decode): 8
    frequency-greedy merges over the uncapped corpus word table, each
    (rank, left, right, pair_count) hash-matched against the same
    recursion unrolled as chained CTEs in DuckDB. Proves the word
    census, the adjacent-pair weighting, the argmax tiebreak, and the
    leftmost-greedy rewrite — the whole distributed loop — value for
    value. corpus_bpe_stats keeps grading the ENCODE side's aggregate
    downstream. max_words=None: the cap is a top-N the oracle could
    express, but the uncapped table grades strictly more of the
    census."""
    from iceberg_geospatial_api_server_spark.operators.bpe import bpe_train

    merges = bpe_train(
        _t(spark, sf_dir, "documents"),
        num_merges=8,
        max_words=None,
        with_counts=True,
    )
    rows = [
        (i, a, b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank long, left_sym string, right_sym string, pair_count long",
    ).orderBy("rank")


@_q("corpus_bpe_stats")  # rows-only: BPE merge learning is iterative
# (frequency-greedy) — the textbook Sennrich merge sequence, lossless
# round-trip, and overlap semantics are pinned in tests/test_bpe.py
def corpus_bpe_stats_q(spark, sf_dir):
    """Learned-subword-tokenizer stage: train 16 BPE merges on the
    corpus (distributed pair counting — one argmax row per iteration
    reaches the driver), encode every document map-side with the
    broadcast ranks, and report per-language subword counts and
    fertility (subwords per word, exact-integer division)."""
    from iceberg_geospatial_api_server_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=16)
    enc = bpe_encode(docs, merges)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            F.round(
                F.sum("n_subwords").cast("double")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@_q(
    "events_topk_salted",
    """
    SELECT event_type, event_id, ROUND(value, 6) AS value,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id) AS rank
      FROM events)
    WHERE rank <= 3 ORDER BY event_type, rank
    """,
)
def events_topk_salted_q(spark, sf_dir):
    """Hot-key-safe top-k: the salted two-pass (per-(key, salt) prune →
    final per-key rank) must return EXACTLY the plain window top-k —
    the subset property is the operator's correctness claim, and the
    oracle grades it value-for-value against the one-pass SQL."""
    from iceberg_geospatial_api_server_spark.operators.skew import (
        salted_topk_per_key,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    out = salted_topk_per_key(
        ev, ["event_type"], "value", k=3, tiebreak_cols=["event_id"]
    )
    return out.select(
        "event_type",
        "event_id",
        F.round("value", 6).alias("value"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("event_type", "rank")


@_q(
    "embed_semantic_decontaminate",
    """
    WITH bench AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id % 97 = 0
    ), m AS (
      SELECT b.vec_id,
             MAX(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        q.e)) AS max_sim
      FROM embeddings b CROSS JOIN bench q
      WHERE b.vec_id % 97 != 0
      GROUP BY b.vec_id
    )
    SELECT vec_id, ROUND(max_sim, 6) AS max_sim,
           max_sim >= 0.35 AS contaminated
    FROM m ORDER BY vec_id
    """,
)
def embed_semantic_decontaminate_q(spark, sf_dir):
    """Semantic contamination check: per-corpus-vector MAX cosine
    against the benchmark slice (vec_id % 97), hash-graded value-for-
    value (threshold 0.35 calibrated to the near-random synthetic
    embeddings so both flag values occur; a real corpus uses ~0.9).
    The Arrow matmul must agree with DuckDB's pairwise
    list_cosine_similarity at 6 decimals across every (corpus, bench)
    combination."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    return semantic_decontaminate(corpus, bench, threshold=0.35).orderBy(
        "vec_id"
    )


@_q("dedup_clusters")  # rows-only: connected components is iterative
# (label propagation) — correctness pinned by tests/test_dedup_ann.py's
# crafted-graph test; this entry gives the driver a rows+schema row
def dedup_clusters_q(spark, sf_dir):
    """Duplicate-cluster size histogram: minhash candidate pairs →
    smallest-id connected components → (cluster_size, n_clusters).
    The full text-dedup endgame: clusters, not pairs, are what a
    keep-one-per-group pass consumes."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        connected_components_smallest_id,
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(
        _t(spark, sf_dir, "documents"), storage_level=None
    )
    comps = connected_components_smallest_id(pairs)
    return (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# Shared recursive-closure prelude for the cluster-grading oracles
# (dedup_cluster_assign + dedup_keep_best): the deterministic
# ngram-Jaccard edge set, its symmetric MATERIALIZED form, the
# transitive closure, and the per-node smallest-reachable-id cluster.
# ONE definition keeps dedup_keep_best's "strictly subsumes
# dedup_cluster_assign" window-rotation claim true by construction —
# a threshold/blocking edit can no longer desynchronize the two.
# MATERIALIZED is load-bearing: the recursive step joins e every
# iteration, and an inlined e re-runs the quadratic jaccard join per
# iteration (measured 169s -> sub-second at sf0.1).
_JACCARD_CLOSURE_CTE = f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, {_GRAMS} AS grams FROM documents),
    p AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               LEN(list_intersect(a.grams, b.grams))::DOUBLE /
                 (LEN(a.grams) + LEN(b.grams)
                  - LEN(list_intersect(a.grams, b.grams)))::DOUBLE AS jaccard
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.3
    ),
    e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    )
"""


# The keep rule both resolution oracles share (longest member wins,
# smallest id on ties) — ONE definition for the same reason
# _JACCARD_CLOSURE_CTE is shared: an edited tiebreak cannot
# desynchronize dedup_keep_best from corpus_dedup_materialize.
_KEEP_RULE_SQL = """(ROW_NUMBER() OVER (
              PARTITION BY c.cluster_id
              ORDER BY LEN(string_split(d.text, ' ')) DESC, c.doc_id) = 1)"""


@_q(
    "dedup_cluster_assign",
    _JACCARD_CLOSURE_CTE
    + """
    SELECT doc_id, cluster_id FROM comp ORDER BY doc_id
    """,
)
def dedup_cluster_assign_q(spark, sf_dir):
    """Connected-components cluster ASSIGNMENT, hash-graded: smallest-id
    label propagation over the (already driver-green) deterministic
    ngram-Jaccard edge set must equal a DuckDB recursive-CTE transitive
    closure — the first value-level oracle for the clustering machinery
    itself (dedup_clusters grades rows+schema only, its minhash edge set
    being engine-internal). Label propagation's fixed point is the exact
    per-component min regardless of partitioning, so the comparison is
    deterministic."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        connected_components_smallest_id,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.3)
    comps = connected_components_smallest_id(pairs)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


@_q(
    "dedup_keep_best",
    _JACCARD_CLOSURE_CTE
    + f"""
    SELECT c.doc_id, c.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
             AS cluster_size,
           CAST(LEN(string_split(d.text, ' ')) AS BIGINT) AS score,
           {_KEEP_RULE_SQL} AS keep
    FROM comp c JOIN documents d USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_keep_best_q(spark, sf_dir):
    """Keep-one-per-cluster dedup resolution, hash-graded end to end:
    the deterministic ngram-Jaccard edge set → smallest-id connected
    components → keep the longest member per cluster (smallest id on
    ties). STRICTLY SUBSUMES dedup_cluster_assign's grading (cluster_id
    per doc is a projected column here) and adds the cluster_size and
    keep-decision contract on top — the row a "materialize the deduped
    corpus" pass actually consumes."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_keep_best,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.3)
    return dedup_keep_best(docs, pairs).orderBy("doc_id")


@_q(
    "corpus_dedup_materialize",
    _JACCARD_CLOSURE_CTE
    + f"""
    , keepers AS (
      SELECT c.doc_id, {_KEEP_RULE_SQL} AS keep
      FROM comp c JOIN documents d USING (doc_id)
    ),
    survivors AS (
      SELECT d.doc_id, d.lang,
             LEN(string_split(d.text, ' ')) AS toks
      FROM documents d LEFT JOIN keepers k USING (doc_id)
      WHERE k.doc_id IS NULL OR k.keep
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(MAX(doc_id) AS BIGINT) AS id_max
    FROM survivors GROUP BY lang ORDER BY lang
    """,
)
def corpus_dedup_materialize_q(spark, sf_dir):
    """The COMPOSED dedup endgame, hash-graded end to end (the
    corpus_curate pattern applied to the dedup side): deterministic
    ngram-Jaccard edges → smallest-id connected components → keep the
    longest member per cluster → anti-join the losers out → per-lang
    survivor census (doc/token counts + id checksums grade the exact
    survivor SET). Each stage is graded alone elsewhere
    (dedup_cluster_assign / dedup_keep_best); this entry grades their
    composition — the corpus a training run actually reads."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_keep_best,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.3)
    losers = dedup_keep_best(docs, pairs).filter(~F.col("keep")).select(
        "doc_id"
    )
    surv = docs.join(losers, "doc_id", "left_anti")
    return (
        surv.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias(
                "n_tokens"
            ),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.max("doc_id").cast("long").alias("id_max"),
        )
        .orderBy("lang")
    )


@_q(
    "orders_forecast_linreg",
    """
    WITH m AS (
      SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1
                  AS BIGINT) AS mo,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), x AS (
      SELECT mo - (SELECT MIN(mo) FROM m) AS x, cents FROM m
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(x * cents) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(MAX(x) AS BIGINT) AS xmax
      FROM x
    ), fit AS (
      SELECT xmax,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (CAST(sy AS DOUBLE)
                        - CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n
                  END AS intercept
      FROM s
    )
    SELECT x.x AS month_idx, x.cents AS revenue_cents,
           CAST(FLOOR(f.intercept + f.slope * x.x) AS BIGINT)
             AS fitted_cents
    FROM x CROSS JOIN fit f
    UNION ALL
    SELECT f.xmax + 1, CAST(NULL AS BIGINT),
           CAST(FLOOR(f.intercept + f.slope * (f.xmax + 1)) AS BIGINT)
    FROM fit f
    ORDER BY month_idx
    """,
)
def orders_forecast_linreg_q(spark, sf_dir):
    """Monthly revenue trend + one-step forecast — ordinary least
    squares over the month series with EVERY regression input an exact
    BIGINT (the zipf_fit machinery on a time series): slope/intercept
    are shared-text expressions over integer sums (one double division
    each), fitted values FLOOR identically on both engines, and the
    forecast row extends the line one month. One month-key exchange;
    all windows/cross joins run on the ≤100-row monthly aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    mo = F.expr(
        "CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)"
    )
    m = orders.groupBy(mo.alias("mo")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    mn = m.agg(F.min("mo").alias("mn"))
    x = m.crossJoin(F.broadcast(mn)).select(
        (F.col("mo") - F.col("mn")).alias("x"), "cents"
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.expr("x * cents")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.max("x").cast("long").alias("xmax"),
    )
    # the single-month degenerate (n=1 → zero OLS denominator) must
    # yield NULL fit on BOTH engines — ANSI Spark would raise on the
    # bare division where DuckDB returns NULL
    fit = s.select(
        "xmax",
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
            "      / CAST(n * sxx - sx * sx AS DOUBLE) END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE (CAST(sy AS DOUBLE)"
            "       - CAST(n * sxy - sx * sy AS DOUBLE)"
            "         / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n END"
        ).alias("intercept"),
    )
    fitted = x.crossJoin(F.broadcast(fit)).select(
        F.col("x").alias("month_idx"),
        F.col("cents").alias("revenue_cents"),
        F.expr("CAST(FLOOR(intercept + slope * x) AS BIGINT)").alias(
            "fitted_cents"
        ),
    )
    forecast = fit.select(
        (F.col("xmax") + 1).alias("month_idx"),
        F.lit(None).cast("long").alias("revenue_cents"),
        F.expr(
            "CAST(FLOOR(intercept + slope * (xmax + 1)) AS BIGINT)"
        ).alias("fitted_cents"),
    )
    return fitted.unionByName(forecast).orderBy("month_idx")


@_q(
    "orders_brand_affinity",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
    ), bc AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_brand
      FROM ob GROUP BY p_brand
    ), pc AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_both,
           FLOOR(CAST(n_both * n.n_orders AS DOUBLE)
                 / CAST(ba.n_brand * bb.n_brand AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pc CROSS JOIN n
    JOIN bc ba ON ba.p_brand = pc.brand_a
    JOIN bc bb ON bb.p_brand = pc.brand_b
    ORDER BY brand_a, brand_b
    """,
)
def orders_brand_affinity_q(spark, sf_dir):
    """Market-basket brand-pair co-occurrence with lift: broadcast dim
    join → distinct (order, brand) → bounded self-join (fan-out ≤ brand
    dimension) → pair counts ⋈ broadcast brand counts. Lift's inputs are
    exact integers divided once in DOUBLE — cross-engine-identical."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        brand_affinity,
    )

    return brand_affinity(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def _minhash_stats_oracle() -> str:
    """Independent SQL evaluation of the minhash band census: the same
    public permutation family over the portable _GRAMS shingle hashes,
    list_min per permutation, band signatures by string join."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        _minhash_params,
    )

    comps = ",\n             ".join(
        f"list_min(list_transform(grams,"
        f" g -> (g * {a} + {b}) % 2147483647)) AS h{i}"
        for i, (a, b) in enumerate(_minhash_params(16))
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT {band} AS band, "
        + " || '_' || ".join(
            f"CAST(h{band * 4 + j} AS VARCHAR)" for j in range(4)
        )
        + " AS bsig FROM s"
        for band in range(4)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_GRAMS} AS grams FROM documents),
    s AS (
      SELECT doc_id,
             {comps}
      FROM t WHERE LEN(grams) > 0
    ),
    bands AS (
      {band_rows}
    ),
    buckets AS (
      SELECT band, bsig, COUNT(*) AS n FROM bands GROUP BY band, bsig
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buckets_ge2,
           CAST(CAST(SUM(n * (n - 1)) AS BIGINT) / 2 AS BIGINT)
             AS n_candidate_pairs
    FROM buckets GROUP BY band ORDER BY band
    """


@_q("dedup_minhash_stats", _minhash_stats_oracle())
def dedup_minhash_stats_q(spark, sf_dir):
    """Minhash/LSH bucket census, hash-graded: permutation family +
    min-agg signatures + band grouping evaluated independently in SQL
    (the dedup_simhash_stats grading pattern applied to minhash — the
    last rows-only-by-nature dedup core now has a value-graded
    companion). Production dedup_minhash_lsh runs the identical
    downstream machinery over xxhash64 token hashes."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        minhash_band_stats,
    )

    return minhash_band_stats(_t(spark, sf_dir, "documents"))


@_q(
    "events_outliers_mad",
    """
    WITH s AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), m AS (
      SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN value END)
                  OVER (PARTITION BY user_id) AS med
      FROM s
    ), d AS (
      SELECT user_id, event_id, value, n, med,
             ABS(value - med) AS dev
      FROM m
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY dev, event_id) AS rn2
      FROM d
    ), md AS (
      SELECT *, MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
                  OVER (PARTITION BY user_id) AS mad
      FROM r
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(med) AS median_value, MAX(mad) AS mad,
           CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM md GROUP BY user_id ORDER BY user_id
    """,
)
def events_outliers_mad_q(spark, sf_dir):
    """Robust per-user outlier profile: EXACT lower-median + MAD (picked
    values, no arithmetic beyond one subtraction and one
    multiply+compare — no rounding anywhere) over one user-key exchange;
    the robust companion to the z-score events_outliers entry
    (operators/relational.py mad_outlier_profile)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        mad_outlier_profile,
    )

    return mad_outlier_profile(_t(spark, sf_dir, "events"))


@_q("dedup_hybrid")  # rows-only: minhash signatures are engine-internal —
# candidate-set identity + verify semantics asserted in tests
def dedup_hybrid_q(spark, sf_dir):
    """Two-tier dedup: minhash-LSH lexical candidates verified by
    embedding cosine (pairs without vectors keep the lexical verdict
    with NULL cos_sim). The embedding tier only ever sees the ~linear
    candidate output, never the quadratic pair space."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_hybrid,
    )

    return (
        dedup_hybrid(
            _t(spark, sf_dir, "documents"),
            _t(spark, sf_dir, "embeddings"),
            cosine_threshold=0.9,
            storage_level=None,
        )
        .orderBy("id_a", "id_b")
    )


@_q("dedup_semantic")  # rows-only: k-means blocking is iterative (Lloyd's)
# — planted-near-dup recall + blocking-miss bound asserted in tests
def dedup_semantic_q(spark, sf_dir):
    """SemDeDup per-cluster profile: deterministic k-means blocking
    (hash-threshold seeds, fixed iters) + in-cluster cosine pairs at
    0.92, reported as per-cell vector/pair/drop counts."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        dedup_semantic_profile,
    )

    return dedup_semantic_profile(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.92,
        k=8,
        iters=4,
        storage_level=None,  # driver-loop hygiene: same as embed_kmeans
    )


@_q(
    "doc_chunks",
    """
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(LEN(string_split(text, ' ')[i*48+1 : i*48+64]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(string_split(text, ' ')[i*48+1 : i*48+64], ' ')
             AS chunk_text
    FROM (
      SELECT doc_id, text,
             UNNEST(generate_series(0,
               CASE WHEN LEN(string_split(text, ' ')) <= 64 THEN 0
                    ELSE CAST(FLOOR((LEN(string_split(text, ' ')) - 64 + 47)
                              / 48.0) AS INT) END)) AS i
      FROM documents)
    """,
)
def doc_chunks_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


def _quality_sql(t: str = "text") -> str:
    return (
        f"0.4 * (LEN(list_distinct(string_split({t}, ' ')))::DOUBLE"
        f"       / LEN(string_split({t}, ' '))::DOUBLE)"
        f" + 0.3 * LEAST(LEN(string_split({t}, ' '))::DOUBLE / 100.0, 1.0)"
        f" + 0.3 * (LEN(list_filter(string_split({t}, ' '),"
        f"             w -> regexp_matches(w, '^[a-zA-Z]+$')))::DOUBLE"
        f"          / LEN(string_split({t}, ' '))::DOUBLE)"
    )


@_q(
    "corpus_clean",
    f"""
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(qraw, 6) AS quality
    FROM (
      SELECT doc_id, n_tokens, qraw,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM (
        SELECT doc_id, text,
               LEN(string_split(text, ' ')) AS n_tokens,
               {_quality_sql()} AS qraw
        FROM documents)
      WHERE n_tokens >= 20 AND qraw >= 0.5)
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def corpus_clean_q(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.operators.text import clean_corpus

    return clean_corpus(
        _t(spark, sf_dir, "documents"), min_tokens=20, min_quality=0.5
    )


# --- deterministic sampling (training-data curation) -----------------------

# Overflow-safe modular form of (id * 2654435761) % 2147483647 — matches
# operators.sampling.id_hash for any 64-bit id (506952114 = K mod M).
# Double-mod keeps the result NON-NEGATIVE: DuckDB's % is sign-of-dividend
# while the engine uses pmod, so a plain % would diverge on negative ids.
_IDHASH = (
    "((((({id} % 2147483647) + 2147483647) % 2147483647)"
    " * 506952114) % 2147483647)"
)


def _kmeans_stats_oracle_sql(k: int = 4, iters: int = 2) -> str:
    """The integer-grid Lloyd's recursion unrolled as chained CTEs (the
    graph_pagerank oracle pattern): quantize → hash-seed → per-iteration
    exact-BIGINT dots, one SQRT+division similarity, (ratio DESC, cell)
    argmax, FLOOR(sum/n + 0.5) centroid update with COALESCE keeping
    empty cells — then the census. Every hashed number is either an
    exact integer or one shared-text double operation."""
    h = _IDHASH.format(id="vec_id")
    parts = [
        f"""
    WITH ev AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) > 0
    ),
    qv AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
             CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0
                        + 0.5) AS BIGINT) AS q
      FROM ev
    ),
    seeds AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cell
      FROM ev ORDER BY {h}, vec_id LIMIT {k}
    ),
    cent0 AS (
      SELECT s.cell, q.idx, q.q AS c FROM seeds s JOIN qv q USING (vec_id)
    )"""
    ]
    for it in range(iters):
        parts.append(f""",
    n2_{it} AS (SELECT cell, SUM(c * c) AS n2 FROM cent{it} GROUP BY 1),
    d_{it} AS (
      SELECT q.vec_id, c.cell, SUM(q.q * c.c) AS dot
      FROM qv q JOIN cent{it} c USING (idx) GROUP BY 1, 2
    ),
    a_{it} AS (
      SELECT vec_id, cell, ratio FROM (
        SELECT d.vec_id, d.cell,
               CASE WHEN n.n2 = 0 THEN 0.0
                    ELSE CAST(d.dot AS DOUBLE)
                         / SQRT(CAST(n.n2 AS DOUBLE)) END AS ratio
        FROM d_{it} d JOIN n2_{it} n USING (cell))
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY ratio DESC, cell) = 1
    )""")
        if it < iters - 1:
            parts.append(f""",
    s_{it} AS (
      SELECT a.cell, q.idx, CAST(SUM(q.q) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM a_{it} a JOIN qv q USING (vec_id) GROUP BY 1, 2
    ),
    cent{it + 1} AS (
      SELECT c0.cell, c0.idx,
             COALESCE(CAST(FLOOR(CAST(s.s AS DOUBLE) / s.n + 0.5)
                           AS BIGINT), c0.c) AS c
      FROM cent{it} c0
      LEFT JOIN s_{it} s ON s.cell = c0.cell AND s.idx = c0.idx
    )""")
    parts.append(f"""
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(1000000 - CAST(FLOOR(ratio * 1000000.0) AS BIGINT))
                AS BIGINT) AS inertia_q
    FROM a_{iters - 1} GROUP BY 1 ORDER BY 1
    """)
    return "".join(parts)


@_q(
    "embed_label_outliers",
    """
    WITH qv AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             generate_subscripts(embedding, 1) - 1 AS idx,
             CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0
                        + 0.5) AS BIGINT) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) > 0
    ),
    cent AS (
      SELECT label, idx,
             CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS m
      FROM qv GROUP BY 1, 2
    ),
    d AS (
      SELECT v.vec_id, v.label,
             CAST(SUM((v.q - c.m) * (v.q - c.m)) AS BIGINT) AS d2
      FROM qv v JOIN cent c ON c.label = v.label AND c.idx = v.idx
      GROUP BY 1, 2
    ),
    s AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(d2) AS BIGINT) AS sd2,
             MAX(d2) AS max_d2
      FROM d GROUP BY 1
    )
    SELECT d.label, s.n_vectors, s.sd2 // s.n_vectors AS mean_d2,
           CAST(SUM(CASE WHEN d.d2 > (4 * s.sd2) // s.n_vectors
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           s.max_d2
    FROM d JOIN s USING (label)
    GROUP BY 1, s.n_vectors, s.sd2, s.max_d2 ORDER BY 1
    """,
)
def embed_label_outliers_q(spark, sf_dir):
    """Embedding-health data card: per-label exact grid-distance-to-
    centroid stats + mislabeled-vector screen (d² > 4·mean), every
    number exact BIGINT (operators/ann.py embed_label_outlier_stats).
    Complements embed_dim_stats (per-dimension) and embed_centroid_drift
    (between-label) with the within-label dispersion view."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        embed_label_outlier_stats,
    )

    return embed_label_outlier_stats(_t(spark, sf_dir, "embeddings"))


@_q("embed_kmeans_stats", _kmeans_stats_oracle_sql())
def embed_kmeans_stats_q(spark, sf_dir):
    """The k-means machinery VALUE-graded (VERDICT r4 item 3a): the
    integer-grid exact census — deterministic hash seeding, exact-BIGINT
    assignment, grid centroid update, quantized inertia — must equal an
    independent SQL evaluation of the same two Lloyd iterations. The
    production kmeans_fit keeps its numpy-matmul fast path (float
    summation order cannot hash cross-engine); this entry proves the
    seeding rule, argmax semantics, update rule, and census on the exact
    twin. See operators/ann.py kmeans_exact_census."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        kmeans_exact_census,
    )

    return kmeans_exact_census(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2
    )


@_q(
    "sample_per_lang",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_IDHASH.format(id='doc_id')}, doc_id) AS rn
      FROM documents)
    WHERE rn <= 10 ORDER BY lang, doc_id
    """,
)
def sample_per_lang_q(spark, sf_dir):
    """Deterministic 10-doc sample per language (portable hash order)."""
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        sample_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return sample_per_group(docs, ["lang"], 10).select("doc_id", "lang").orderBy(
        "lang", "doc_id"
    )


@_q(
    "corpus_split_leakage",
    f"""
    WITH t AS (SELECT doc_id, lang, {_GRAMS} AS grams FROM documents),
    sp AS (
      -- split bounds pinned to the EXACT integers hash_split computes
      -- (Python int() truncates: int(0.8*2147483647) = 1717986917,
      -- int(0.9*2147483647) = 1932735282). DuckDB's CAST rounds-half-up
      -- to 1717986918, so the expression form is off by one at the
      -- boundary hash value (ADVICE r7 item 1).
      SELECT doc_id,
             CASE WHEN {_IDHASH.format(id='doc_id')}
                       < 1717986917 THEN 'train'
                  WHEN {_IDHASH.format(id='doc_id')}
                       < 1932735282 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE LEN(list_intersect(a.grams, b.grams))::DOUBLE /
              (LEN(a.grams) + LEN(b.grams)
               - LEN(list_intersect(a.grams, b.grams)))::DOUBLE >= 0.5
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           sa.split <> sb.split AS is_leak,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(id_a * 1000003 + id_b) AS BIGINT) AS id_checksum
    FROM truth JOIN sp sa ON sa.doc_id = truth.id_a
               JOIN sp sb ON sb.doc_id = truth.id_b
    GROUP BY 1, 2, 3
    """,
)
def corpus_split_leakage_q(spark, sf_dir):
    """SPLIT-LEAKAGE audit (late r7 — the train/eval contamination
    check every training pipeline needs and the composition the
    existing pieces were built for): near-duplicate pairs (exact
    lang-blocked trigram Jaccard ≥ 0.5, the dedup_recall_contract
    ground truth) that STRADDLE the deterministic train/val/test
    assignment (the corpus_split hash rule) — a train doc near-dup of
    a val/test doc is eval contamination that document-level
    decontamination against external benchmarks cannot see. Graded as
    the FULL split×split duplication matrix — the diagonal carries the
    within-split dup mass (never-empty output even when no pair leaks
    at a given SF, so the graded scale cannot go vacuously 0-row) and
    `is_leak` marks the contaminating cells — with exact pair counts
    AND an id-checksum over each cell's pair SET. At 100 TB the truth side swaps for the
    minhash-LSH candidates (recall-contracted above) — the blocked
    exact join is the grading reference."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        hash_split,
    )

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, ["lang"], n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    sp = hash_split(docs).select("doc_id", "split")
    sa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        truth.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.col("id_a") * F.lit(1000003) + F.col("id_b")
            )
            .cast("long")
            .alias("id_checksum"),
        )
    )


@_q(
    "corpus_mixture",
    f"""
    SELECT lang, COUNT(*) AS n_kept FROM documents
    WHERE {_IDHASH.format(id='doc_id')} <
          CAST((CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0
                WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0 WHEN 'zh' THEN 0.5
                ELSE 0.0 END) * 2147483647.0 AS BIGINT)
    GROUP BY lang ORDER BY lang
    """,
)
def corpus_mixture_q(spark, sf_dir):
    """Mixture reweighting: downsample over-represented languages by
    per-stratum hash-threshold (pure scan-stage filter)."""
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        weighted_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    mixed = weighted_mixture(
        docs, {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 0.5}
    )
    return (
        mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")
    )


@_q(
    "corpus_split",
    f"""
    SELECT lang, split, COUNT(*) AS n_docs FROM (
      -- bounds pinned to hash_split's truncated ints (1717986917 /
      -- 1932735282); CAST(0.8*2147483647 AS BIGINT) rounds to ...918
      -- in DuckDB — off by one at the boundary (ADVICE r7 item 1)
      SELECT lang,
             CASE WHEN {_IDHASH.format(id='doc_id')}
                       < 1717986917 THEN 'train'
                  WHEN {_IDHASH.format(id='doc_id')}
                       < 1932735282 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    GROUP BY lang, split ORDER BY lang, split
    """,
)
def corpus_split_q(spark, sf_dir):
    """Deterministic train/val/test split: a document's split is a pure
    function of its own id (stable under corpus growth — exact quantile
    splits re-assign rows when the corpus changes, leaking training docs
    into eval). Zero shuffle: the CASE evaluates in the scan stage."""
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        hash_split,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


# deterministic PII decoration (the synthetic corpus is PII-free, so the
# scrub entry injects known emails/IPs/phones first — same expression
# text on both engines; no backslashes, so SQL literal parsing agrees)
_PII_DECOR = (
    "CONCAT(text, ' contact user', doc_id % 100, '@example.com or user',"
    " doc_id, '@mail.example.org ip 10.', doc_id % 256,"
    " '.0.7 tel +1 (555) 010-', 1000 + doc_id % 9000)"
)


def _pii_oracle_sql() -> str:
    from iceberg_geospatial_api_server_spark.operators.text import (
        PII_PATTERNS,
    )

    (_, em, _), (_, ip, _), (_, ph, _) = PII_PATTERNS
    # each class counts on the text as scrubbed by the EARLIER classes
    # (mirrors operators.text.pii_scrub: counts = replacements performed)
    after_em = f"regexp_replace(dt, '{em}', '<EMAIL>', 'g')"
    after_ip = f"regexp_replace({after_em}, '{ip}', '<IP>', 'g')"
    scrub = f"regexp_replace({after_ip}, '{ph}', '<PHONE>', 'g')"
    return f"""
    WITH d AS (SELECT doc_id, {_PII_DECOR} AS dt FROM documents)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(dt, '{em}')) AS BIGINT) AS n_emails,
           CAST(LEN(regexp_extract_all({after_em}, '{ip}')) AS BIGINT)
             AS n_ips,
           CAST(LEN(regexp_extract_all({after_ip}, '{ph}')) AS BIGINT)
             AS n_phones,
           md5({scrub}) AS scrub_md5
    FROM d ORDER BY doc_id
    """


@_q("corpus_pii_scrub", _pii_oracle_sql())
def corpus_pii_scrub_q(spark, sf_dir):
    """PII redaction (C4/RefinedWeb-style privacy pass) hash-graded
    end-to-end: per-class occurrence counts + md5 of the scrubbed text.
    The corpus is decorated with deterministic synthetic PII first (the
    testdata contains none), using the identical expression both sides;
    patterns live in operators.text.PII_PATTERNS (RE2 ∩ java.regex
    subset). All scan-stage JVM regexp built-ins — no shuffle."""
    from iceberg_geospatial_api_server_spark.operators.text import pii_scrub
    from iceberg_geospatial_api_server_spark.util import spread

    # spread: the regex pass is CPU-bound and the single-row-group scan
    # would run it on one task (measured 1.13s -> 0.51s at sf0.1); safe
    # here — the output is per-doc and order-free until the final sort
    docs = spread(_t(spark, sf_dir, "documents"), None).withColumn(
        "text", F.expr(_PII_DECOR)
    )
    out = pii_scrub(docs)
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5(F.col("scrubbed").cast("binary")).alias("scrub_md5"),
    ).orderBy("doc_id")


@_q(
    "corpus_decontaminate",
    f"""
    WITH bench AS (
      SELECT DISTINCT {_WHASH.format(w='gs')} AS g
      FROM (SELECT unnest({_GRAM_STRS}) AS gs
            FROM documents WHERE doc_id % 97 = 0)
    ),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, {_WHASH.format(w='gs')} AS g
            FROM (SELECT doc_id, unnest({_GRAM_STRS}) AS gs
                  FROM documents)) dg
      JOIN bench USING (g)
    )
    SELECT lang, COUNT(*) AS n_clean FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY lang ORDER BY lang
    """,
)
def corpus_decontaminate_q(spark, sf_dir):
    """Benchmark decontamination: drop documents sharing any hashed word
    trigram with the 'benchmark' slice (doc_id % 97 = 0 stands in for an
    eval suite). Benchmark n-gram set broadcasts; corpus grams explode
    map-side into the broadcast semi-join — no corpus shuffle. The
    corpus side is `spread` first: the gram regex pass is CPU-bound and
    the single-row-group scan would serialize it (1.27s -> 0.80s at
    sf0.1)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        decontaminate,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    docs = spread(_t(spark, sf_dir, "documents"), None)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return (
        decontaminate(docs, bench, portable_hash=True)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_clean"))
        .orderBy("lang")
    )


# SimHash in ANSI-ish SQL: the char-fold word hash feeds 32 conditional-
# sum majority votes; votes pack into the fingerprint; candidates share a
# byte block; verify = bit_count(xor). Mirrors operators.dedup.dedup_simhash
# with portable_hash=True term for term.
_SIMHASH_VOTES = " + ".join(
    f"(CASE WHEN SUM(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END)"
    f" > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(32)
)


@_q(
    "dedup_simhash_stats",
    f"""
    WITH hashed AS (
      SELECT doc_id, {{whash}} AS h FROM (
        SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents)
    ),
    fp AS (
      SELECT doc_id, {_SIMHASH_VOTES} AS simhash
      FROM hashed GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, simhash, blk,
             (simhash // CASE blk WHEN 0 THEN 1 WHEN 1 THEN 256
                         WHEN 2 THEN 65536 ELSE 16777216 END) % 256 AS val
      FROM fp, (VALUES (0), (1), (2), (3)) b(blk)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sa, b.simhash AS sb
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT CAST(hamming AS INTEGER) AS hamming, COUNT(*) AS n_pairs FROM (
      SELECT bit_count(xor(sa, sb)) AS hamming FROM cand)
    WHERE hamming <= 2 GROUP BY hamming ORDER BY hamming
    """.replace("{whash}", _WHASH.format(w="w")),
)
def dedup_simhash_stats_q(spark, sf_dir):
    """Hash-graded simhash: the full vote→pack→block→bit_count pipeline
    with the SQL-portable word hash, aggregated per hamming distance so
    DuckDB verifies the fingerprint math value-for-value."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        dedup_simhash,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_simhash(docs, portable_hash=True)
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


@_q(
    "corpus_segment_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), segs AS (
      SELECT doc_id,
             unnest(list_transform(grid, i ->
               {_WHASH.format(w="array_to_string(toks[(i*10+1):(i*10+10)], ' ')")}))
               AS seg_hash,
             unnest(list_transform(grid, i ->
               LEN(toks[(i*10+1):(i*10+10)]))) AS seg_ntok
      FROM (SELECT doc_id, toks,
                   generate_series(0,
                     GREATEST(CAST(CEIL(LEN(toks) / 10.0) AS INT), 1) - 1)
                     AS grid
            FROM t)
    ), counts AS (
      SELECT seg_hash, COUNT(DISTINCT doc_id) AS nd
      FROM segs GROUP BY seg_hash
    )
    SELECT doc_id,
           COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segs,
           ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 6) AS dup_seg_frac,
           CAST(SUM(CASE WHEN nd < 2 THEN seg_ntok ELSE 0 END) AS BIGINT)
             AS n_tokens_kept
    FROM segs JOIN counts USING (seg_hash)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def corpus_segment_dedup_q(spark, sf_dir):
    """CCNet-style shared-segment stats: 10-word segments hashed
    corpus-wide; segments in >= 2 distinct docs are boilerplate. The
    driver hash-grades the full explode -> distinct-doc-count -> join ->
    re-agg pipeline value-for-value."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        segment_dedup_stats,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    return segment_dedup_stats(spread(_t(spark, sf_dir, "documents"), None))


# word-8-gram strings of `text` (mirrors operators.text.overlapping_gram_strings(n=8))
_GRAMS8 = (
    "list_transform(generate_series(1,"
    " greatest(LEN(string_split(text, ' ')) - 7, 0)),"
    " i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))"
)


@_q(
    "text_dup_spans",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(generate_series(0, LEN({_GRAMS8}) - 1)) AS pos,
             unnest(list_transform({_GRAMS8}, w -> {{whash}})) AS h
      FROM documents
    ), c AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), d AS (
      SELECT doc_id, pos FROM g JOIN c USING (h)
    ), m AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > 8 THEN 1 ELSE 0 END AS brk
      FROM d
    ), i AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM m
    ), s AS (
      SELECT doc_id, COUNT(*) AS grams, MAX(pos) - MIN(pos) + 8 AS span_tokens
      FROM i GROUP BY doc_id, isl
    ), p AS (
      SELECT doc_id, CAST(SUM(grams) AS BIGINT) AS n_dup_grams,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
      FROM s GROUP BY doc_id
    ), b AS (
      SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(GREATEST(LEN(string_split(text, ' ')) - 7, 0) AS BIGINT)
               AS n_grams
      FROM documents
    )
    SELECT b.doc_id, n_tokens, n_grams,
           COALESCE(n_dup_grams, 0) AS n_dup_grams,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(dup_tokens, 0) AS dup_tokens,
           ROUND(COALESCE(dup_tokens, 0)::DOUBLE / n_tokens::DOUBLE, 6)
             AS dup_token_frac
    FROM b LEFT JOIN p USING (doc_id) ORDER BY b.doc_id
    """.replace("{whash}", _WHASH.format(w="w")),
)
def text_dup_spans_q(spark, sf_dir):
    """Duplicated-span stats (Lee-et-al exact-substring-dedup analog):
    cross-doc 8-gram hits merged into maximal token spans per document
    via interval union. Hash-graded: the gram hashing, the distinct-doc
    gate, AND the lag/row_number interval merge must agree
    value-for-value with the SQL islands-and-gaps formulation."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        dup_span_stats,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    return dup_span_stats(spread(_t(spark, sf_dir, "documents"), None))


@_q(
    "corpus_temperature_mixture",
    """
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), s AS (
      SELECT lang, n_docs,
             n_docs::DOUBLE / (SUM(n_docs) OVER ())::DOUBLE AS p
      FROM c
    ), si AS (
      SELECT lang, n_docs, p,
             CAST(ROUND(POWER(p, 0.5) * 1e9) AS BIGINT) AS paq,
             CAST(ROUND(POWER(p, -0.5) * 1e9) AS BIGINT) AS rexpq
      FROM s
    ), t AS (
      SELECT lang, n_docs, p,
             paq::DOUBLE / (SUM(paq) OVER ())::DOUBLE AS q,
             rexpq::DOUBLE / (MAX(rexpq) OVER ())::DOUBLE AS keep_rate
      FROM si
    )
    SELECT lang, n_docs, ROUND(p, 6) AS p, ROUND(q, 6) AS q,
           ROUND(keep_rate, 6) AS keep_rate,
           ROUND(n_docs::DOUBLE * keep_rate, 2) AS expected_docs
    FROM t ORDER BY lang
    """,
)
def corpus_temperature_mixture_q(spark, sf_dir):
    """Temperature-scaled language mixture (alpha=0.5, the XLM-R
    rebalance): natural share p, temperature share q proportional to
    p^alpha, and the hash-threshold keep rate realizing q. Graded over
    `lang` (non-uniform: en dominates) so the shares are non-trivial."""
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        temperature_mixture_weights,
    )

    return temperature_mixture_weights(
        _t(spark, sf_dir, "documents"), alpha=0.5, stratum_col="lang"
    )


@_q(
    "corpus_quality_classifier",
    f"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(({{whash}} % 2001) - 1000) AS BIGINT) AS ws
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           FLOOR(ws::DOUBLE / (n_tokens * 1000)::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS score,
           ROUND(1.0 / (1.0
                 + EXP(-4.0 * (ws::DOUBLE / (n_tokens * 1000)::DOUBLE))), 6)
             AS prob,
           (ws::DOUBLE / (n_tokens * 1000)::DOUBLE) >= 0.0 AS keep
    FROM agg ORDER BY doc_id
    """.replace("{whash}", _WHASH.format(w="w")),
)
def corpus_quality_classifier_q(spark, sf_dir):
    """Model-based quality filter (FineWeb-Edu / DCLM stage) with a
    deterministic hashed-feature weight stand-in: per-token hashed
    weight lookup, exact-integer mean pooling, sigmoid calibration.
    Hash-graded: the token hashing, pooling, and calibration must agree
    value-for-value."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        quality_classifier_score,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    return quality_classifier_score(
        spread(_t(spark, sf_dir, "documents"), None)
    )


@_q(
    "doc_length_quantiles",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(LEN(string_split(text, ' ')), 0.25), 6) AS p25,
           ROUND(quantile_cont(LEN(string_split(text, ' ')), 0.5), 6) AS p50,
           ROUND(quantile_cont(LEN(string_split(text, ' ')), 0.75), 6) AS p75,
           ROUND(quantile_cont(LEN(string_split(text, ' ')), 0.95), 6) AS p95
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def doc_length_quantiles_q(spark, sf_dir):
    """Per-language exact token-length quantiles: Spark `percentile`
    and DuckDB `quantile_cont` share the R-7 interpolation definition
    (verified bit-identical), so the distribution tail is hash-graded
    exactly — no sketch tolerance."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        length_quantiles,
    )

    return length_quantiles(_t(spark, sf_dir, "documents"))


@_q(
    "corpus_diff",
    f"""
    WITH old_v AS (
      SELECT doc_id, {_WHASH.format(w="text")} AS h
      FROM documents WHERE doc_id % 11 != 0
    ), new_v AS (
      SELECT doc_id,
             {_WHASH.format(w="CASE WHEN doc_id % 17 = 0 THEN text || ' edited' ELSE text END")}
               AS h
      FROM documents WHERE doc_id % 13 != 0
    )
    SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
                ELSE 'modified' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM old_v o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id
    GROUP BY status ORDER BY status
    """,
)
def corpus_diff_q(spark, sf_dir):
    """Snapshot diff audit: old = docs minus the %11 slice, new = docs
    minus the %13 slice with the %17 slice edited — yields all four
    statuses. Hash-graded: the full-outer join and the fingerprint
    comparison must agree document-for-document."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        corpus_diff,
    )

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0)
    new = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


@_q(
    "corpus_perplexity",
    """
    WITH t AS (
      SELECT doc_id, doc_id % 7 = 0 AS train, string_split(text, ' ') AS toks
      FROM documents
    ), big AS (
      SELECT doc_id, train,
             unnest(list_transform(generate_series(1, LEN(toks) - 1),
                                   i -> toks[i])) AS a,
             unnest(list_transform(generate_series(1, LEN(toks) - 1),
                                   i -> toks[i+1])) AS b
      FROM t
    ), tu AS (
      SELECT w, COUNT(*) AS cu
      FROM (SELECT unnest(toks) AS w FROM t WHERE train) GROUP BY w
    ), tb AS (
      SELECT a, b, COUNT(*) AS cb FROM big WHERE train GROUP BY a, b
    ), v AS (SELECT COUNT(*) AS V FROM tu
    ), sc AS (
      SELECT doc_id,
             CAST(FLOOR(LN((COALESCE(cb, 0) + 1)::DOUBLE
                           / (COALESCE(cu, 0) + V)::DOUBLE) * 1000000)
                  AS BIGINT) AS lpq
      FROM big LEFT JOIN tb USING (a, b) LEFT JOIN tu ON big.a = tu.w
           CROSS JOIN v
    ), ag AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(lpq) AS BIGINT) AS ln_sum_q
      FROM sc GROUP BY doc_id
    ), d AS (
      SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT d.doc_id, n_tokens,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           COALESCE(ln_sum_q, 0) AS ln_sum_q,
           CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
                ELSE ROUND(EXP(-(ln_sum_q::DOUBLE / 1000000.0
                                 / n_bigrams::DOUBLE)), 6) END AS ppl
    FROM d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id
    """,
)
def corpus_perplexity_q(spark, sf_dir):
    """CCNet-style LM perplexity scoring: add-one bigram model trained
    on the doc_id%7 reference slice, every document scored by quantized
    cross-entropy. Hash-graded down to the exact integer log-prob sums
    (ln_sum_q), so the model counts, smoothing, joins, and quantization
    must all agree bigram-for-bigram."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        perplexity_profile,
    )

    # no spread: the tokenize pass is regex-split-cheap, so exchanging
    # the full text payload costs more than the serial scan (the tfidf
    # lesson, re-measured here r6: 1.7s with spread+persist → 1.0s)
    return perplexity_profile(_t(spark, sf_dir, "documents"))


# duplicate-occurrence ratio over a list expression, as DuckDB SQL
_DUPR = (
    "CASE WHEN LEN({l}) > 0 THEN"
    " (LEN({l}) - LEN(list_distinct({l})))::DOUBLE / LEN({l})::DOUBLE"
    " ELSE 0.0 END"
)
# word-trigram strings of `text` (mirrors operators.text.trigram_strings)
_TRIS = (
    "list_transform(generate_series(1,"
    " greatest(LEN(string_split(text, ' ')) - 2, 0)),"
    " i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))"
)


@_q(
    "text_repetition_profile",
    f"""
    SELECT doc_id,
           CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ROUND({_DUPR.format(l="string_split(text, ' ')")}, 6)
             AS dup_word_ratio,
           ROUND({_DUPR.format(l=_TRIS)}, 6) AS dup_trigram_ratio,
           ({_DUPR.format(l="string_split(text, ' ')")}) <= 0.30
             AND ({_DUPR.format(l=_TRIS)}) <= 0.20 AS keep
    FROM documents
    """,
)
def text_repetition_profile_q(spark, sf_dir):
    """Gopher-style repetition signals: fraction of repeated word /
    word-trigram occurrences per document + keep flag (map-side only)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        repetition_profile,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    # spread: same single-task-scan rationale as text_profile
    # (0.98s -> 0.40s at sf0.1)
    return repetition_profile(spread(_t(spark, sf_dir, "documents"), None))


@_q(
    "corpus_curate",
    f"""
    WITH f AS (
      SELECT doc_id, lang, text,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS nt,
             {{q}} AS quality
      FROM documents
      WHERE LEN(string_split(text, ' ')) >= 20
        AND {{q}} >= 0.5
        AND ({_DUPR.format(l="string_split(text, ' ')")}) <= 0.30
        AND ({_DUPR.format(l=_TRIS)}) <= 0.20
        AND list_sum(list_transform(string_split(text, ' '),
              w -> ({_WHASH.format(w='w')} % 2001) - 1000)) >= 0
    ), d AS (
      SELECT lang, nt, CAST(ROUND(quality * 1e6) AS BIGINT) AS q6,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS rn
      FROM f
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           ROUND(SUM(q6)::DOUBLE / COUNT(*)::DOUBLE / 1e6, 6)
             AS mean_quality
    FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang
    """.replace("{q}", _quality_sql("text")),
)
def corpus_curate_q(spark, sf_dir):
    """The COMPOSED curation pass: length + quality + Gopher repetition
    + hashed-feature classifier gates (all scan-stage), exact dedup
    keep-first (one md5 shuffle), per-language report (one lang
    exchange). Each stage is graded alone elsewhere; this entry
    hash-grades the composition — stage order, survivor sets, and the
    final aggregate at once."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        curate_corpus,
    )

    # NO spread (r11, guide §2.4 "remove shuffles outright"): the gate
    # predicate is a FILTER, and filter pushdown slides it below any
    # round-robin exchange back into the scan task — so spread never
    # parallelized the gates, it only shuffled the full text for
    # nothing (interleaved A/B at sf0.1: 1.13 → 0.74 s; a
    # monotonically_increasing_id pushdown barrier measured 1.46 s —
    # worse than both). At scale the scan is many-task and the gates
    # parallelize naturally in the scan stage, exactly the operator's
    # documented design.
    return curate_corpus(_t(spark, sf_dir, "documents"))


# quality score of `text` (mirrors operators.text.quality_score), unrounded
_QUALITY = (
    "(0.4 * (LEN(list_distinct(string_split(text, ' ')))::DOUBLE"
    "        / LEN(string_split(text, ' '))::DOUBLE)"
    " + 0.3 * LEAST(LEN(string_split(text, ' '))::DOUBLE / 100.0, 1.0)"
    " + 0.3 * (LEN(list_filter(string_split(text, ' '),"
    "            w -> regexp_matches(w, '^[a-zA-Z]+$')))::DOUBLE"
    "          / LEN(string_split(text, ' '))::DOUBLE))"
)


@_q(
    "corpus_token_budget",
    f"""
    WITH d AS (
      SELECT LEAST(CAST(FLOOR({_QUALITY} * 100) AS INT), 99) AS bucket,
             LEN(string_split(text, ' ')) AS t
      FROM documents
    ), a AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS n_tokens
      FROM d GROUP BY bucket
    )
    SELECT bucket, n_docs, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           SUM(n_tokens) OVER w <= 10000 AS kept
    FROM a
    WINDOW w AS (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY bucket DESC
    """,
)
def corpus_token_budget_q(spark, sf_dir):
    """Token-budget selection summary: quality-bucket histogram +
    descending-quality cumulative token counts (window runs over the
    ≤100-row aggregate, never the corpus)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        corpus_token_budget,
    )

    tb = corpus_token_budget(_t(spark, sf_dir, "documents"), 10000)
    return tb.select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        "kept",
    )


@_q(
    "events_funnel",
    """
    WITH s1 AS (
      SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q0
      FROM events
    ), s1b AS (
      SELECT *, MAX(CASE WHEN q0 = 1 THEN us END) OVER w AS prev0 FROM s1
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                          AND prev0 > us - 14400000000
                     THEN 1 ELSE 0 END AS q1
      FROM s1b
    ), s2b AS (
      SELECT *, MAX(CASE WHEN q1 = 1 THEN us END) OVER w AS prev1 FROM s2
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                          AND prev1 > us - 14400000000
                     THEN 1 ELSE 0 END AS q2
      FROM s2b
    ), per_user AS (
      SELECT user_id, MAX(q0) AS r0, MAX(q1) AS r1, MAX(q2) AS r2
      FROM s3 GROUP BY user_id
    )
    SELECT step, step_name, n_users FROM (
      SELECT 1 AS step, 'view' AS step_name,
             CAST(SUM(r0) AS BIGINT) AS n_users FROM per_user
      UNION ALL
      SELECT 2, 'click', CAST(SUM(r1) AS BIGINT) FROM per_user
      UNION ALL
      SELECT 3, 'purchase', CAST(SUM(r2) AS BIGINT) FROM per_user
    ) ORDER BY step
    """,
)
def events_funnel_q(spark, sf_dir):
    """Windowed funnel view→click→purchase, 4-hour step gap (chained
    windows on ONE user_id exchange; strictly-after semantics with
    event_id tiebreak)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_funnel,
    )

    return events_funnel(_t(spark, sf_dir, "events"), max_gap_minutes=240)


@_q(
    "events_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           ROUND(AVG(k), 6) AS avg_k
    FROM (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_props_stats_q(spark, sf_dir):
    """Typed JSON extraction from the free-form props payload (single
    JVM from_json in the scan stage) + per-type aggregation."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_props_stats,
    )

    return events_props_stats(_t(spark, sf_dir, "events"))


@_q(
    "events_retention",
    """
    WITH wk AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS w
      FROM events
    ), first AS (
      SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, w AS active_week FROM wk
    )
    SELECT f.cohort_week, a.active_week - f.cohort_week AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_retention_q(spark, sf_dir):
    """Weekly retention cohorts: first-seen week × activity-week user
    counts (two user_id-keyed shuffles + a tiny final agg)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_retention,
    )

    return events_retention(_t(spark, sf_dir, "events"))


@_q(
    "q2_min_cost_supplier",
    """
    WITH supp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
    ), pf AS (
      SELECT p_partkey, p_type, p_size FROM part
      WHERE p_type = 'ECONOMY' AND p_size >= 10
    ), ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS supply_cost
      FROM lineitem, pf WHERE l_partkey = p_partkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT l_partkey, supply_cost, s_name, s_acctbal, n_name,
             MIN(supply_cost) OVER (PARTITION BY l_partkey) AS min_cost
      FROM ps, supp WHERE l_suppkey = s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, p_size, supply_cost
    FROM ranked, pf WHERE l_partkey = p_partkey AND supply_cost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q2(spark, sf_dir):
    """Correlated-MIN supplier selection (raw-double MIN over bit-identical
    per-row divisions — engine-exact without rounding; ties kept)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q2_min_cost_supplier,
    )

    return q2_min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@_q(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(
             CAST(l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l_discount AS DECIMAL(18,6)))
             - CAST(p_retailprice * l_quantity * 0.1 AS DECIMAL(18,6))
           ), 2) AS DOUBLE) AS sum_profit
    FROM lineitem, orders, part, supplier, nation
    WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%widget%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def q9(spark, sf_dir):
    """Profit by supplier nation × year (cost term: one double product →
    one DECIMAL cast; the oracle repeats the identical operation order)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q9_product_type_profit,
    )

    return q9_product_type_profit(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@_q(
    "q11_important_stock",
    """
    WITH v AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_19'
      GROUP BY 1
    )
    SELECT l_partkey AS ps_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
    FROM v WHERE value * 1000 > (SELECT SUM(value) FROM v)
    ORDER BY value DESC, ps_partkey
    """,
)
def q11(spark, sf_dir):
    """Stock-value threshold vs a scalar subquery (multiplied through in
    exact DECIMAL on both engines)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q11_important_stock,
    )

    return q11_important_stock(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@_q(
    "q16_supplier_part_count",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND p_brand <> 'Brand#11' AND p_type NOT LIKE 'STANDARD%'
      AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16(spark, sf_dir):
    """Distinct supplier count per (brand, type, size) with brand/type and
    complaint-supplier exclusions (NOT IN → broadcast left-anti)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q16_supplier_part_count,
    )

    return q16_supplier_part_count(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
    )


@_q(
    "q20_excess_suppliers",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem, part
      WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ), q AS (
      SELECT DISTINCT l_suppkey FROM (
        SELECT l_suppkey, qty,
               SUM(qty) OVER (PARTITION BY l_partkey) AS part_total,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n_supp
        FROM ps
      ) WHERE 2 * qty * n_supp > part_total
    )
    SELECT s_suppkey, s_name
    FROM supplier, nation, q
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_18'
      AND s_suppkey = l_suppkey
    ORDER BY s_suppkey
    """,
)
def q20(spark, sf_dir):
    """Excess-stock suppliers via a semi-join chain (per-part average
    multiplied through to exact DECIMAL: 2·qty·n_supp > part_total)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        q20_excess_suppliers,
    )

    return q20_excess_suppliers(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@_q(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST({_IDHASH.format(id='doc_id')} % 32 AS INT) AS shard,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS stream_offset,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS pack_first,
           CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) AS pack_last,
           CAST(FLOOR((cum - 1) / 512.0)
                - FLOOR((cum - n_tokens) / 512.0) + 1 AS BIGINT) AS n_packs
    FROM c ORDER BY doc_id
    """,
)
def pack_sequences_q(spark, sf_dir):
    """GPT-style context-window packing map: sharded token streams sliced
    into fixed 512-token packs (docs straddle boundaries, like
    pre-tokenized training packing; shard-parallel, deterministic)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        pack_sequences,
    )

    return pack_sequences(_t(spark, sf_dir, "documents"), max_tokens=512)


@_q(
    "pack_materialize",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST({_IDHASH.format(id='doc_id')} % 32 AS INT) AS shard,
             string_split(text, ' ') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, shard, toks,
             CAST(SUM(LEN(toks)) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - LEN(toks) AS BIGINT) AS off
      FROM t
    ), x AS (
      SELECT shard, doc_id,
             off + generate_subscripts(toks, 1) - 1 AS pos,
             unnest(toks) AS tok
      FROM c
    )
    SELECT shard, CAST(pos // 512 AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc_id,
           MD5(STRING_AGG(tok, ' ' ORDER BY pos)) AS pack_md5
    FROM x GROUP BY shard, pack_id ORDER BY shard, pack_id
    """,
)
def pack_materialize_q(spark, sf_dir):
    """Materialized training packs, hash-graded to the token level: the
    md5 of each pack's space-joined token window must match an oracle
    that reconstructs the identical (shard, doc_id)-ordered stream in
    SQL — grading not just the pack arithmetic (pack_sequences does
    that) but the actual contents `sources.shards.write_training_shards`
    puts on disk."""
    from iceberg_geospatial_api_server_spark.sources.shards import (
        materialize_packs,
    )

    packs = materialize_packs(_t(spark, sf_dir, "documents"), max_tokens=512)
    return packs.select(
        "shard",
        "pack_id",
        "n_tokens",
        "n_docs",
        "first_doc_id",
        F.md5(F.concat_ws(" ", "tokens")).alias("pack_md5"),
    ).orderBy("shard", "pack_id")


@_q(
    "embed_quantize_int8",
    """
    SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS n_dims,
           CAST(mn AS DOUBLE) AS v_min, CAST(mx AS DOUBLE) AS v_max,
           array_to_string(
             CASE WHEN CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE) = 0.0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                    CAST(LEAST(FLOOR((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                                     * 255.0
                                     / (CAST(mx AS DOUBLE)
                                        - CAST(mn AS DOUBLE))),
                               255) AS INT))
             END, '-') AS codes
    FROM (SELECT vec_id, embedding,
                 list_min(embedding) AS mn, list_max(embedding) AS mx
          FROM embeddings)
    ORDER BY vec_id
    """,
)
def embed_quantize_q(spark, sf_dir):
    """Per-vector int8 scalar quantization (FLOOR-based — no rounding-mode
    edge; codes byte-exact across engines). The graded entry string-joins
    the codes array ('-'-separated) because the driver's pandas
    canonicalizer cannot hash raw list cells; the operator itself keeps
    the typed array<int> column."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        quantize_embeddings,
    )

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    # no final orderBy (r10, the r7 final-sort rule): the range sampling
    # re-executed the MapInPandas quantization pass; order-insensitive grading
    return q.withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), "-")
    )


@_q(
    "events_outliers",
    """
    WITH s AS (
      SELECT user_id, value,
             SUM(CAST(value AS DECIMAL(18,6))) OVER w AS sx,
             SUM(CAST(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) OVER w AS sxx,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    ), f AS (
      SELECT user_id, value, n,
             CAST(sx AS DOUBLE) / n AS mean,
             (CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) AS var
      FROM s WHERE n >= 2
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN (value - mean) * (value - mean) > 9.0 * var
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(mean), 6) AS avg_value,
           ROUND(MAX(var), 6) AS var_value
    FROM f GROUP BY user_id ORDER BY user_id
    """,
)
def events_outliers_q(spark, sf_dir):
    """Per-user z-score outlier counts (exact-DECIMAL moment sums, then an
    identical IEEE op sequence on both engines — no float boundary)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_outliers,
    )

    return events_outliers(_t(spark, sf_dir, "events"))


@_q(
    "corpus_source_stats",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
                AS BIGINT) AS median_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def corpus_source_stats_q(spark, sf_dir):
    """Per-source data card with EXACT lower-median document length
    (rank ⌈n/2⌉ ≡ percentile_disc(0.5); one source-key exchange)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        corpus_source_stats,
    )

    return corpus_source_stats(_t(spark, sf_dir, "documents"))


@_q(
    "cross_source_overlap",
    """
    WITH h AS (
      SELECT DISTINCT
             md5(array_to_string(string_split(text, ' ')[1:20], ' ')) AS m,
             source
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_prefixes
    FROM h a JOIN h b ON a.m = b.m AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def cross_source_overlap_q(spark, sf_dir):
    """Which corpus sources duplicate each other: source pairs sharing
    20-word document prefixes (md5-keyed; per-key fan-out bounded by the
    source dimension, never quadratic in documents)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        cross_source_overlap,
    )

    return cross_source_overlap(_t(spark, sf_dir, "documents"))


@_q(
    "events_distinct_salted",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_distinct_salted_q(spark, sf_dir):
    """Hot-key-safe exact COUNT(DISTINCT): value-hash salting spreads a
    skewed group key across reducers, per-salt distinct counts are
    disjoint by construction and sum exactly (oracle = the plain
    COUNT(DISTINCT) — same answer, skew-resistant plan)."""
    from iceberg_geospatial_api_server_spark.operators.skew import (
        salted_count_distinct,
    )

    return salted_count_distinct(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", n_salts=16
    ).orderBy("event_type")


@_q(
    "text_gopher_rules",
    """
    WITH sig AS (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
             ROUND(LENGTH(REPLACE(text, ' ', ''))::DOUBLE
                   / LEN(string_split(text, ' '))::DOUBLE, 4) AS mean_word_len,
             ROUND(((LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
                    + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3)::DOUBLE
                   / LEN(string_split(text, ' '))::DOUBLE, 6) AS symbol_ratio,
             ROUND(LEN(list_filter(string_split(text, chr(10)),
                       l -> starts_with(l, '- ') OR starts_with(l, '* ')
                            OR starts_with(l, '•')))::DOUBLE
                   / LEN(string_split(text, chr(10)))::DOUBLE, 6)
               AS bullet_line_frac,
             ROUND(LEN(list_filter(string_split(text, chr(10)),
                       l -> ends_with(l, '...')))::DOUBLE
                   / LEN(string_split(text, chr(10)))::DOUBLE, 6)
               AS ellipsis_line_frac,
             ROUND(LEN(list_filter(string_split(text, ' '),
                       w -> regexp_matches(w, '^[a-zA-Z]+$')))::DOUBLE
                   / LEN(string_split(text, ' '))::DOUBLE, 6) AS alpha_word_frac,
             CAST(LEN(list_filter(string_split(text, ' '),
                      w -> list_contains(['the', 'be', 'to', 'of', 'and',
                                          'that', 'have', 'with'], w)))
                  AS BIGINT) AS n_stop_hits
      FROM documents
    )
    SELECT *,
           CAST(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND n_stop_hits >= 2 AS BIGINT) AS keep_flag
    FROM sig ORDER BY doc_id
    """,
)
def text_gopher_rules_q(spark, sf_dir):
    """Gopher structural quality rules (word bounds, mean word length,
    symbol ratio, bullet/ellipsis lines, alpha fraction, stopword
    presence) — all scan-stage JVM built-ins, zero shuffle."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        gopher_structural_rules,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    out = gopher_structural_rules(
        spread(_t(spark, sf_dir, "documents"), None)
    )
    return out.withColumn(
        "keep_flag", F.col("keep").cast("long")
    ).drop("keep").orderBy("doc_id")


@_q(
    "text_readability",
    """
    SELECT doc_id,
           CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(LEN(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
             AS n_syllables,
           CAST(LEN(list_filter(string_split(text, ' '),
                    w -> LEN(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                AS BIGINT) AS n_complex,
           (LEN(regexp_extract_all(text, '[aeiouy]+')) * 1000000)
             // LEN(string_split(text, ' ')) AS syll_ppm,
           (LEN(list_filter(string_split(text, ' '),
                w -> LEN(regexp_extract_all(w, '[aeiouy]+')) >= 3))
             * 1000000) // LEN(string_split(text, ' ')) AS complex_ppm,
           CAST((LEN(regexp_extract_all(text, '[aeiouy]+')) * 1000000)
                  // LEN(string_split(text, ' ')) <= 1450000
                AND (LEN(list_filter(string_split(text, ' '),
                         w -> LEN(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                     * 1000000) // LEN(string_split(text, ' ')) <= 60000
                AS BIGINT) AS keep_flag
    FROM documents WHERE LEN(text) > 0 ORDER BY doc_id
    """,
)
def text_readability_q(spark, sf_dir):
    """Flesch-style lexical-complexity curation signal (syllable-group
    density + complex-word fraction on the exact ppm grid): the
    readability member of the quality-filter battery, zero-shuffle
    scan-stage regex math (operators/text.py lexical_complexity)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        lexical_complexity,
    )

    out = lexical_complexity(_t(spark, sf_dir, "documents"))
    return out.withColumn("keep_flag", F.col("keep").cast("long")).drop(
        "keep"
    )


@_q(
    "embed_dim_stats",
    """
    SELECT CAST(pos AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           ROUND(AVG(val), 4) + 0.0 AS mean_val,
           ROUND(STDDEV(val), 4) AS std_val,
           ROUND(CAST(MIN(val) AS DOUBLE), 4) AS min_val,
           ROUND(CAST(MAX(val) AS DOUBLE), 4) AS max_val,
           ROUND(AVG(CASE WHEN val = 0.0 THEN 1.0 ELSE 0.0 END), 4)
             AS zero_frac
    FROM (SELECT CAST(UNNEST(embedding) AS DOUBLE) AS val,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY pos ORDER BY dim
    """,
)
def embed_dim_stats_q(spark, sf_dir):
    """Per-dimension embedding health stats: posexplode → d-key groupBy
    (map-side partials; output is d rows regardless of corpus size)."""
    from iceberg_geospatial_api_server_spark.operators.ann import dim_stats

    return dim_stats(_t(spark, sf_dir, "embeddings"))


@_q(
    "embed_centroid_drift",
    """
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS idx,
             CAST(UNNEST(embedding) AS DECIMAL(18,9)) AS val
      FROM embeddings
    ), cent AS (
      SELECT label, idx, COUNT(*) AS n,
             CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*) * 1000000.0
                        + 0.5) AS BIGINT) AS m
      FROM ex GROUP BY 1, 2
    ), p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             a.n AS n_a, b.n AS n_b,
             a.m * b.m AS ab, a.m * a.m AS aa2, b.m * b.m AS bb2
      FROM cent a JOIN cent b ON a.idx = b.idx AND a.label < b.label
    ), g AS (
      SELECT label_a, label_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             CAST(SUM(ab) AS BIGINT) AS dot,
             CAST(SUM(aa2) AS BIGINT) AS aa,
             CAST(SUM(bb2) AS BIGINT) AS bb
      FROM p GROUP BY 1, 2
    )
    SELECT CAST(label_a AS INT) AS label_a,
           CAST(label_b AS INT) AS label_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(CASE WHEN aa > 0 AND bb > 0 THEN CAST(dot AS DOUBLE)
                 / (SQRT(CAST(aa AS DOUBLE)) * SQRT(CAST(bb AS DOUBLE)))
                 ELSE 0.0 END,
                 6) + 0.0 AS centroid_cosine
    FROM g ORDER BY label_a, label_b
    """,
)
def embed_centroid_drift_q(spark, sf_dir):
    """Per-label centroid cosine matrix (slice-level semantic drift:
    DECIMAL-exact component sums, 1e-6-grid quantized means, exact
    BIGINT dot/norm sums — operators/ann.py centroid_drift)."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        centroid_drift,
    )

    return centroid_drift(_t(spark, sf_dir, "embeddings"))


@_q("events_hll_dau")  # rows-only: DataSketches HLL registers are
# engine-specific (DuckDB's approx_count_distinct is a different HLL);
# accuracy (<5% vs exact) and LOSSLESS sketch-union mergeability are
# pinned in tests/test_cohort_paths.py
def events_hll_dau_q(spark, sf_dir):
    """Persistable per-day HLL user sketches + estimates — the
    re-aggregable distinct-count state a 100 TB pipeline stores instead
    of rescanning events per date range (operators/sketches.py)."""
    from iceberg_geospatial_api_server_spark.operators.sketches import (
        hll_daily_user_sketches,
    )

    return (
        hll_daily_user_sketches(_t(spark, sf_dir, "events"))
        .select("day", "dau_est")
        .orderBy("day")
    )


@_q(
    "events_hll_contract",
    """
    SELECT CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                      / 86400) AS BIGINT) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_exact,
           TRUE AS within_5pct
    FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1
    """,
)
def events_hll_contract_q(spark, sf_dir):
    """The HLL accuracy contract VALUE-graded (VERDICT r6 item 6): HLL
    registers are engine-specific (DuckDB's approx_count_distinct is a
    different sketch), so the estimate itself can never hash — but the
    CONTRACT the sketch table is sold on (<5% error vs exact) is a
    hashable boolean. Per day: the exact distinct (one SQL GROUP BY on
    both engines) plus `20·|est − exact| ≤ exact` — exact integer
    arithmetic, no float division in the hash. The oracle asserts the
    contract (TRUE); a drifting sketch flips the Spark boolean and the
    hash goes red. At lg_k=12 the sparse-mode estimate is exact for
    test-SF cardinalities, and well inside 5% (~1.6% RSE) beyond it.
    Mergeability (union-of-sketches ≡ sketch-of-union, the property
    that makes the daily table re-aggregable) stays pinned in
    tests/test_cohort_paths.py. NULL-ts rows are excluded on BOTH
    sides (the inner join on day is null-unsafe while SQL GROUP BY
    keeps a NULL group — the contract grades dated rows only)."""
    from iceberg_geospatial_api_server_spark.operators.sketches import (
        hll_daily_user_sketches,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sec = epoch_of(events, "ts")
    day = F.floor(sec("ts", "SECOND") / F.lit(86400)).cast("long")
    exact = events.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("dau_exact")
    )
    est = hll_daily_user_sketches(events).select("day", "dau_est")
    return (
        exact.join(est, "day")
        .select(
            "day",
            "dau_exact",
            (
                F.abs(F.col("dau_est") - F.col("dau_exact")) * F.lit(20)
                <= F.col("dau_exact")
            ).alias("within_5pct"),
        )
        .orderBy("day")
    )


@_q(
    "events_theta_retention",
    """
    WITH du AS (
      SELECT DISTINCT
             CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                        / 86400) AS BIGINT) AS day,
             user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM du),
    pairs AS (SELECT a.day FROM days a JOIN days b ON b.day = a.day + 1),
    ov AS (
      SELECT a.day, CAST(COUNT(*) AS BIGINT) AS c
      FROM du a JOIN du b
        ON b.user_id = a.user_id AND b.day = a.day + 1
      GROUP BY 1
    )
    SELECT p.day, CAST(COALESCE(ov.c, 0) AS BIGINT) AS overlap_exact,
           TRUE AS within_5pct
    FROM pairs p LEFT JOIN ov ON ov.day = p.day ORDER BY 1
    """,
)
def events_theta_retention_q(spark, sf_dir):
    """THETA-sketch day-over-day retention under an accuracy-contract
    oracle (late r7 — the third sketch family after HLL and
    approx_count_distinct/percentile, and the first SET-OPERATION one):
    |active(d) ∩ active(d+1)| from intersecting persisted per-day theta
    sketches — the overlap/retention/churn query HLL structurally
    cannot answer (inclusion-exclusion on unions amplifies error; theta
    intersects natively). Registers are engine-specific so the estimate
    can't hash; the CONTRACT can (the events_hll_contract pattern): per
    day pair, the exact overlap (one SQL self-join on both engines)
    plus `20·|est − exact| ≤ exact` in exact integer arithmetic. At the
    default lgk the sketch is exact-mode below ~4k users/day — the
    contract holds with zero slack consumed at every test SF, and a
    broken intersection or hash mapping flips the boolean
    (operators/sketches.py theta_day_overlap)."""
    from iceberg_geospatial_api_server_spark.operators.sketches import (
        theta_day_overlap,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    sec = epoch_of(events, "ts")
    day = F.floor(sec("ts", "SECOND") / F.lit(86_400)).cast("long")
    du = events.select(day.alias("day"), "user_id").distinct()
    # ADVICE r7 item 3: the 5% bar is only ~3 sigma of theta RSE
    # (~1.6% at lg_nom_entries=12) once a day exceeds ~4k distinct
    # users — in estimation mode a single within-spec day pair could
    # flip within_5pct and redden the hash. The contract is CERTIFIED
    # for exact-mode days (per-day distinct users <= 4096 = 2^12
    # nominal entries, where the sketch retains every hash and the
    # bar holds with zero slack). The precondition ships IN-PLAN as an
    # assert_true over the 1-row max-day-NDV aggregate (broadcast
    # crossJoin, evaluated with the query): a larger corpus fails
    # loudly at execution instead of as an opaque hash mismatch, and
    # the entry stays a pure lazy plan (no construction-time job).
    guard = (
        du.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .select(
            F.assert_true(
                F.coalesce(F.col("mx") <= 4096, F.lit(True)),
                F.concat(
                    F.lit(
                        "events_theta_retention contract precondition "
                        "broken: max per-day distinct users "
                    ),
                    F.col("mx").cast("string"),
                    F.lit(
                        " > 4096 (lg_nom_entries=12 exact mode) — the "
                        "sketch enters estimation mode and the 5% bar "
                        "is no longer a deterministic certificate; "
                        "raise lg_nom_entries or widen the bar before "
                        "grading."
                    ),
                ),
            ).alias("__guard")
        )
    )
    nxt = du.select(
        (F.col("day") - F.lit(1)).alias("day"), "user_id"
    )
    days = du.select("day").distinct()
    # every consecutive-day pair, INCLUDING zero-overlap ones: a sketch
    # that fabricates overlap on disjoint days must fail the contract
    # (20·|est − 0| ≤ 0 forces est = 0), not silently drop out of the
    # graded frame (review finding)
    pairs = days.join(
        days.select((F.col("day") - F.lit(1)).alias("day")), "day"
    )
    ov = (
        du.join(nxt, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    exact = pairs.join(ov, "day", "left").select(
        "day",
        F.coalesce(F.col("ov"), F.lit(0)).cast("long").alias(
            "overlap_exact"
        ),
    )
    est = theta_day_overlap(events)
    return (
        exact.join(est, "day")
        .crossJoin(F.broadcast(guard))
        .select(
            "day",
            "overlap_exact",
            # the isnull(__guard) wrap keeps the side-effecting assert
            # in the evaluated tree (assert_true yields NULL when the
            # precondition holds, so the value is within_5pct verbatim)
            F.when(
                F.isnull(F.col("__guard")),
                F.abs(F.col("overlap_est") - F.col("overlap_exact"))
                * F.lit(20)
                <= F.col("overlap_exact"),
            ).alias("within_5pct"),
        )
        .orderBy("day")
    )


@_q(
    "events_topk_sketch",
    """
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
    """,
)
def events_topk_sketch_q(spark, sf_dir):
    """Mergeable HEAVY-HITTERS sketches value-graded in the exact
    regime (late r7 — the fourth sketch family beside HLL, theta, and
    the GK quantile contract, completing the frequency side): per-day
    approx_top_k ACCUMULATE states combine across the range and the
    estimate must equal the exact GROUP BY value-for-value — exact
    because max_items_tracked (64) exceeds the column's cardinality,
    the hll-sparse/theta-exact-mode grading stance (the
    ann_*_exhaustive pattern applied to frequent-items: the full
    accumulate → combine → estimate machinery executes, the exhaustive
    configuration makes it exactly checkable). k=16 > NDV so the
    result set carries every item and no tie-at-the-boundary can make
    set membership arbitrary; deterministic (probed: identical across
    runs — unlike KLL, which was probed randomized and rejected).
    Beyond the tracked bound the counts degrade to the frequent-items
    guarantee — documented, and the production store keeps per-day NDV
    under it by keying coarse columns
    (operators/sketches.py topk_merged_counts)."""
    from iceberg_geospatial_api_server_spark.operators.sketches import (
        topk_merged_counts,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    # ADVICE r7 item 2: the exact regime silently depends on
    # NDV(event_type) <= k (result carries every item) and per-day
    # NDV <= max_items_tracked (each daily sketch stays exact). A
    # corpus/SF that breaks either turns the sketch approximate and the
    # exact GROUP BY oracle reds with an opaque hash mismatch — the
    # precondition ships IN-PLAN as an assert_true over the 1-row
    # NDV aggregate (broadcast crossJoin, evaluated with the query):
    # a corpus change fails loudly at execution, and the entry stays a
    # pure lazy plan. Same day derivation as topk_daily_sketches.
    sec = epoch_of(events, "ts")
    day = F.floor(sec("ts", "SECOND") / F.lit(86_400)).cast("long")
    pairs = events.select(
        day.alias("day"), F.col("event_type").alias("item")
    ).distinct()
    guard = (
        pairs.groupBy("day")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("max_day_ndv"))
        .crossJoin(
            F.broadcast(pairs.agg(F.countDistinct("item").alias("ndv")))
        )
        .select(
            F.assert_true(
                F.coalesce(
                    (F.col("ndv") <= 16) & (F.col("max_day_ndv") <= 64),
                    F.lit(True),
                ),
                F.concat(
                    F.lit(
                        "events_topk_sketch exact-regime precondition "
                        "broken: NDV(event_type)="
                    ),
                    F.col("ndv").cast("string"),
                    F.lit(" (bar 16), max per-day NDV="),
                    F.col("max_day_ndv").cast("string"),
                    F.lit(
                        " (bar 64) — the sketch is approximate at this "
                        "corpus and the exact oracle no longer applies; "
                        "raise k/max_items_tracked or re-grade under an "
                        "accuracy contract (the theta/HLL pattern)."
                    ),
                ),
            ).alias("__guard")
        )
    )
    out = topk_merged_counts(
        events, "event_type", k=16, max_items_tracked=64
    )
    return out.crossJoin(F.broadcast(guard)).select(
        "item",
        # isnull(__guard) keeps the side-effecting assert in the
        # evaluated tree (NULL when the precondition holds)
        F.when(F.isnull(F.col("__guard")), F.col("count"))
        .cast("long")
        .alias("n"),
    )


@_q("embed_pca_project")  # rows-only: eigendecomposition isn't SQL-expressible
def embed_pca_q(spark, sf_dir):
    """Distributed PCA: moment partial-sums (one bounded row per Arrow
    batch), driver-side d×d eigh, map-side projection matmul. Parity vs
    numpy PCA pinned in tests/test_dedup_ann.py.

    Driver-legible form (VERDICT r6 item 1 — the r4 mm_extract_features
    ERR fix pattern): the raw `proj array<double>` column cannot pass
    the driver's pandas canonicalizer (sort_values factorizes each
    column; list cells raise TypeError), so the entry explodes to
    (vec_id, component, value) scalar rows. Values are already
    1e-6-quantized inside pca_project; -0.0 is sign-normalized so the
    scalar stream is byte-stable. The moment machinery feeding the eigh
    is VALUE-graded by embed_pca_moments (driver-green r6)."""
    from iceberg_geospatial_api_server_spark.operators.ann import pca_project

    proj = pca_project(_t(spark, sf_dir, "embeddings"), k=8)
    return (
        proj.select(
            "vec_id", F.posexplode("proj").alias("component", "value")
        )
        .withColumn("component", F.col("component").cast("long"))
        .withColumn(
            "value",
            F.when(F.col("value") == 0.0, F.lit(0.0)).otherwise(
                F.col("value")
            ),
        )
        # no final orderBy (r10, the r7 final-sort rule): the range
        # sampling re-executed the ArrowEvalPython projection matmul +
        # posexplode (measured 1.43s → 0.80s at sf0.1); the driver
        # canonicalizes order-insensitively
    )


@_q(
    "embed_pca_moments",
    """
    WITH qv AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0
                        + 0.5) AS BIGINT) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) > 0
    ), s2 AS (
      SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
             CAST(SUM(a.q * b.q) AS BIGINT) AS s
      FROM qv a JOIN qv b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    ), s1 AS (
      SELECT CAST(i AS INT) AS i, CAST(-1 AS INT) AS j,
             CAST(SUM(q) AS BIGINT) AS s
      FROM qv GROUP BY 1
    ), nn AS (
      SELECT CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS s
      FROM qv
    )
    SELECT i, j, s FROM s2
    UNION ALL SELECT i, j, s FROM s1
    UNION ALL SELECT i, j, s FROM nn
    ORDER BY i, j
    """,
)
def embed_pca_moments_q(spark, sf_dir):
    """The PCA moment machinery VALUE-graded (VERDICT r5 item 3 — the
    'grade the d×d moment matrix itself' upgrade): n, per-dimension
    first moments, and the full second-moment upper triangle as exact
    BIGINT sums on the 1e-6 grid, hash-matched against an independent
    SQL evaluation. These are the complete sufficient statistics
    pca_fit consumes; the driver-side eigh stays numpy (eigenvectors
    aren't SQL-expressible) and keeps its numpy-parity test, but the
    distributed accumulation, indexing, and pairing logic is now
    externally graded (operators/ann.py embed_moment_census)."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        embed_moment_census,
    )

    return embed_moment_census(_t(spark, sf_dir, "embeddings"))


@_q(
    "embed_pca_checksums",
    """
    WITH qv AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0
                        + 0.5) AS BIGINT) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) > 0
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
              WHERE embedding IS NOT NULL AND LEN(embedding) > 0),
    s1 AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s FROM qv GROUP BY 1)
    SELECT qv.vec_id,
           CAST(SUM(
             ((((qv.q * nn.n - s1.s) % 2147483647) + 2147483647)
               % 2147483647)
             * ((((qv.q * nn.n - s1.s) % 2147483647) + 2147483647)
               % 2147483647)
             % 2147483647
           ) % 2147483647 AS BIGINT) AS energy_mod,
           TRUE AS within_tol
    FROM qv CROSS JOIN nn JOIN s1 ON s1.i = qv.i
    GROUP BY qv.vec_id
    """,
)
def embed_pca_checksums_q(spark, sf_dir):
    """Per-vector PCA value oracle (VERDICT r7 item 6 — closing the
    last rows-only-by-convenience gap in the embedding family): a
    FULL-RANK (k = d = 64) principal rotation must preserve each
    vector's centered energy exactly, because eigh's basis is
    orthonormal and complete — so the eigh → broadcast matmul
    projection machinery (pca_fit mean/moments, basis orthonormality,
    the mapInPandas matmul) is graded per VECTOR, not just via its
    sufficient statistics (embed_pca_moments) or aggregate parity
    tests.

    Two graded columns per vector (the events_theta_retention
    exact-value + contract-boolean pattern):
    - ``energy_mod``: the centered energy checksum
      SUM_i(((q_i*n - S_i) mod M)^2 mod M) mod M on the 1e-6 grid
      (M = 2^31-1) — EXACT integer arithmetic, engine-identical by
      construction (q*n <= ~1.2e9 and (x mod M)^2 < 4.7e18 both fit
      BIGINT at any plausible corpus size; the mod runs BEFORE the
      square precisely so the square cannot overflow).
    - ``within_tol``: |sum_k proj_k^2 - exact centered energy| <= 1e-2,
      where proj comes from the REAL pca_project path at k=d. The
      error floor is ~1e-4 (1e-6 component quantization x d=64 terms),
      so the band has ~100x headroom while any basis defect — a
      non-orthonormal eigh, a truncated component, a wrong mean —
      shifts energy by O(1) and flips the boolean. The oracle asserts
      TRUE (the contract side is only computable where eigh runs).

    Top-k subspace SELECTION stays covered by the numpy-parity pytest
    (eigenvectors aren't SQL-expressible); this entry pins everything
    around the eigh. Ref parity: the reference has no PCA — this is
    pipeline-extension surface (operators/ann.py pca_project)."""
    from iceberg_geospatial_api_server_spark.operators.ann import (
        pca_project,
    )

    M = 2147483647
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    # exact-integer side: engine-identical checksum of the centered
    # 1e-6-quantized vector (one posexplode + one dim-keyed join; the
    # s1/n frames are d-row / 1-row broadcasts)
    qv = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "v"),
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("v").cast("double") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    n_row = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s1 = qv.groupBy("i").agg(F.sum("q").cast("long").alias("s"))
    cm = (
        ((F.col("q") * F.col("n") - F.col("s")) % F.lit(M) + F.lit(M))
        % F.lit(M)
    )
    exact = (
        qv.crossJoin(F.broadcast(n_row))
        .join(F.broadcast(s1), "i")
        .withColumn("term", (cm * cm) % F.lit(M))
        .groupBy("vec_id")
        .agg(
            (F.sum("term") % F.lit(M)).cast("long").alias("energy_mod"),
            # float twin of the exact energy for the tolerance check:
            # ((q*n - S)/(n*1e6))^2 summed — only feeds the boolean,
            # never the hash, so float order-sensitivity is harmless
            F.sum(
                F.pow(
                    (F.col("q") * F.col("n") - F.col("s")).cast("double")
                    / (F.col("n").cast("double") * F.lit(1000000.0)),
                    F.lit(2.0),
                )
            ).alias("energy_float"),
        )
    )
    # eigh side: the production projection at full rank
    proj = pca_project(emb, k=64)
    e_proj = proj.select(
        "vec_id",
        F.aggregate(
            "proj",
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        ).alias("energy_proj"),
    )
    return exact.join(e_proj, "vec_id").select(
        "vec_id",
        "energy_mod",
        (
            F.abs(F.col("energy_proj") - F.col("energy_float"))
            <= F.lit(0.01)
        ).alias("within_tol"),
    )


@_q(
    "merge_upsert_scd2",
    """
    WITH cl AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), dd AS (
      SELECT user_id, ts_us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS prev
      FROM cl
    ), kept AS (
      SELECT user_id, ts_us, attr FROM dd
      WHERE prev IS NULL OR attr <> prev
    )
    SELECT user_id, attr, ts_us AS eff_from_us,
           LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
             AS eff_to_us,
           LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
             IS NULL AS is_current
    FROM kept
    """,
)
def merge_upsert_scd2_q(spark, sf_dir):
    """SCD TYPE-2 incremental MERGE value-graded by the merged≡direct
    equivalence (r8 — the runnable analog of Iceberg ``MERGE INTO``
    upsert semantics, ref api/main.py:492-604 / duckdb-init.sql:24-36,
    applied to dimension maintenance the way the sketch stores apply it
    to aggregates): the events changelog (user_id, ts, event_type
    normalized to one row per (key, ts) via MAX — both engines need an
    agreed tie rule) is SPLIT at its midpoint day; the entry builds the
    dimension from the OLD half (scd2_from_changelog), then MERGES the
    new half through the incremental path (scd2_merge: untouched keys
    byte-identical pass-through, closed versions immutable, only open
    versions + batch re-windowed). The oracle rebuilds from the FULL
    changelog in one SQL window pass — the incremental result must
    equal the rebuild row-for-row, so a wrong pass-through filter, a
    dropped open version, a broken run-dedup seam at the split
    boundary, or a batch-scoped window leak all flip the hash. The
    midpoint-day split guarantees the merge's append-order
    precondition globally (batch ts ≥ every open eff_from).
    Construction runs one bounded min/max-day aggregate (the split
    point — 1 row to the driver). Scale: merge cost is batch-sized
    (broadcast key semi/anti joins against the dimension), the 100 TB
    property that matters (operators/relational.py scd2_merge)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:  # empty changelog: merge of nothing
        cutoff_us = 0
    else:
        cutoff_us = (
            (bounds["lo"] + bounds["hi"]) // 2 + 1
        ) * 86_400_000_000
    old = cl.filter(F.col("ts_us") < F.lit(cutoff_us))
    batch = cl.filter(F.col("ts_us") >= F.lit(cutoff_us))
    dim = scd2_from_changelog(old)
    return scd2_merge(dim, batch)


@_q(
    "scd2_merge_late",
    """
    WITH cl AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), b AS (
      SELECT MIN(ts_us // 86400000000) AS lo,
             MAX(ts_us // 86400000000) AS hi
      FROM cl
    ), bands AS (
      SELECT (lo + (hi - lo) // 3) * 86400000000 AS band_lo,
             (lo + 2 * ((hi - lo) // 3)) * 86400000000 AS band_hi
      FROM b
    ), dd AS (
      SELECT user_id, ts_us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS prev
      FROM cl
    ), kept AS (
      SELECT user_id, ts_us, attr FROM dd
      WHERE prev IS NULL OR attr <> prev
    ), dim AS (
      SELECT user_id, attr, ts_us AS eff_from_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS eff_to_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               IS NULL AS is_current
      FROM kept
    ), late_keys AS (
      SELECT DISTINCT user_id FROM cl, bands
      WHERE ts_us >= band_lo AND ts_us < band_hi
    )
    SELECT d.user_id, d.attr, d.eff_from_us, d.eff_to_us, d.is_current,
           lk.user_id IS NOT NULL AS reopened
    FROM dim d LEFT JOIN late_keys lk ON d.user_id = lk.user_id
    """,
)
def scd2_merge_late_q(spark, sf_dir):
    """SCD2 LATE-arrival merge value-graded (r9 — VERDICT r8 directive
    6: `scd2_merge` documents that out-of-order batches need the
    partition-scoped rewrite; this entry ships and grades it): the
    events changelog's MIDDLE third of days plays the late batch — the
    dimension is built WITHOUT it (so every affected key's history has
    closed versions both before and after the hole), then
    `scd2_merge_late` reopens only the affected keys' histories from
    the retained changelog slice and re-windows them together with the
    late rows. The oracle rebuilds from the FULL changelog in one SQL
    window pass — the merged result must equal the rebuild
    row-for-row, so a dim-replay shortcut (which cannot resurrect a
    collapsed equal-attribute run that a late row splits), a wrong
    pass-through scope, or a broken re-window all flip the hash. Each
    row also carries `reopened` (key ∈ late batch), grading the
    affected-key scoping itself. Construction runs one bounded
    min/max-day aggregate (2 ints to the driver). Scale: rewrite cost
    is the affected keys' changelog slice (broadcast semi join — the
    Iceberg copy-on-write cost model), never the dimension or full
    changelog (operators/relational.py scd2_merge_late; out-of-order
    planted test incl. the split-run case in test_relational.py)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge_late,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        band_lo_us = band_hi_us = 0
    else:
        lo, hi = bounds["lo"], bounds["hi"]
        if hi - lo < 3:
            # ADVICE r9: with <3 distinct days the day-third bands
            # collapse to empty and the construction would fail later
            # with a confusing "snapshot is empty" / gc_exact error —
            # mirror the strictly-increasing-timestamps guard style
            # and name the precondition instead
            raise RuntimeError(
                "day-third band split needs an events changelog "
                f"spanning >= 3 distinct days (got days {lo}..{hi}) — "
                "this entry grades at sf >= 0.001 fixtures by design"
            )
        band_lo_us = (lo + (hi - lo) // 3) * 86_400_000_000
        band_hi_us = (lo + 2 * ((hi - lo) // 3)) * 86_400_000_000
    in_band = (F.col("ts_us") >= F.lit(band_lo_us)) & (
        F.col("ts_us") < F.lit(band_hi_us)
    )
    old = cl.filter(~in_band)
    late = cl.filter(in_band)
    dim = scd2_from_changelog(old)
    merged = scd2_merge_late(dim, late, old)
    bk = late.select("user_id").distinct().withColumn(
        "__r", F.lit(True)
    )
    return merged.join(F.broadcast(bk), "user_id", "left").select(
        "user_id",
        "attr",
        "eff_from_us",
        "eff_to_us",
        "is_current",
        F.coalesce(F.col("__r"), F.lit(False)).alias("reopened"),
    )


@_q(
    "versioned_read_asof",
    """
    WITH cl AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ), b AS (
      SELECT ((MIN(ts_us // 86400000000)
               + MAX(ts_us // 86400000000)) // 2 + 1) * 86400000000
               AS cutoff
      FROM cl
    ), labelled AS (
      SELECT 'v1' AS snap, cl.* FROM cl, b WHERE ts_us < cutoff
      UNION ALL SELECT 'v2' AS snap, cl.* FROM cl
      UNION ALL SELECT 'latest' AS snap, cl.* FROM cl
    )
    SELECT snap, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(ts_us % 2147483647) % 2147483647 AS BIGINT)
             AS ts_checksum,
           CAST(SUM((event_id % 2147483647)
                    * (('0x' || substr(md5(event_type), 1, 15))::BIGINT
                       % 2147483647)
                    % 2147483647) % 2147483647 AS BIGINT)
             AS type_checksum,
           TRUE AS asof_eq_version
    FROM labelled GROUP BY snap
    """,
)
def versioned_read_asof_q(spark, sf_dir):
    """Snapshot time travel value-graded (r9 — VERDICT r8 directive 5:
    the fs_versioned contract was pytest-only; this is the
    merged≡rebuilt pattern applied to TIME TRAVEL): the events
    changelog splits at its midpoint day, snapshot v1 = overwrite(old
    half), snapshot v2 = append(new half) — so v2's manifest unions
    v1's files with the new ones, no data copied — and THREE read
    paths are certified at once:
    - `read(version=1)` (VERSION AS OF) must reconstruct exactly the
      old half — the SQL oracle re-derives it from the raw events with
      the same cutoff, so a manifest that loses/duplicates a file, a
      wrong file-union rule, or a broken version lookup flips the
      row-count or a checksum;
    - `read(as_of_us=t_v1)` (TIMESTAMP AS OF at v1's commit time) must
      equal `read(version=1)` row-for-row — enforced IN-PLAN by an
      assert_true over the full-outer multiset mismatch count,
      surfaced as the constant-TRUE `asof_eq_version` column;
    - `read(version=2)` and bare `read()` (latest) must both
      reconstruct the FULL changelog (append really is parent ∪ new;
      latest-resolution agrees with explicit-version resolution).
    Carrier rows are per-snapshot exact-integer aggregates (row count,
    distinct users, ts and md5-based type checksums — the word_hash
    grid, overflow-safe BIGINT arithmetic on both engines).
    Construction writes the two snapshots under /tmp keyed by sf_dir
    (fresh rebuild per invocation — idempotent) and raises if the two
    commit timestamps are not strictly increasing (the as-of probe
    would be ambiguous). Scale: time travel is a manifest lookup —
    readers plan O(files), never rescan or copy data; the manifest is
    the same metadata shape Iceberg keeps in avro
    (sources/fs_versioned.py VersionedTable; ref duckdb-init.sql:24-36,
    api/main.py:492-604 — the Iceberg snapshot surface)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.dedup import (
        MERSENNE,
        word_hash,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = events.select(
        "event_id",
        "user_id",
        sec("ts", "MICROSECOND").alias("ts_us"),
        "event_type",
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        cutoff_us = 0
    else:
        cutoff_us = (
            (bounds["lo"] + bounds["hi"]) // 2 + 1
        ) * 86_400_000_000

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_versioned_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite(cl.filter(F.col("ts_us") < F.lit(cutoff_us)))
    vt.append(cl.filter(F.col("ts_us") >= F.lit(cutoff_us)))
    hist = {
        r["version"]: r["ts_us"] for r in vt.history().collect()
    }
    if not hist[2] > hist[1]:
        raise RuntimeError(
            "versioned_read_asof: snapshot commit timestamps not "
            f"strictly increasing ({hist}) — the TIMESTAMP AS OF probe "
            "at v1's commit time would be ambiguous"
        )
    r_v1 = vt.read(version=1)
    r_asof = vt.read(as_of_us=hist[1])
    r_v2 = vt.read(version=2)
    r_latest = vt.read()

    from iceberg_geospatial_api_server_spark.util import (
        multiset_equal_guard,
    )

    mism = multiset_equal_guard(
        r_v1,
        r_asof,
        ["event_id", "user_id", "ts_us", "event_type"],
        "versioned_read_asof time travel broke: read(as_of_us=t_v1) "
        "diverges from read(version=1) — TIMESTAMP AS OF must resolve "
        "to the same snapshot as VERSION AS OF",
    )

    def snap_agg(df, label):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.sum(F.col("ts_us") % F.lit(MERSENNE)) % F.lit(MERSENNE))
            .cast("long")
            .alias("ts_checksum"),
            (
                F.sum(
                    (F.col("event_id") % F.lit(MERSENNE))
                    * word_hash(F.col("event_type"))
                    % F.lit(MERSENNE)
                )
                % F.lit(MERSENNE)
            )
            .cast("long")
            .alias("type_checksum"),
        ).select(F.lit(label).alias("snap"), "*")

    out = (
        snap_agg(r_v1, "v1")
        .unionByName(snap_agg(r_v2, "v2"))
        .unionByName(snap_agg(r_latest, "latest"))
    )
    return out.crossJoin(F.broadcast(mism)).select(
        "snap",
        "n_rows",
        "n_users",
        "ts_checksum",
        "type_checksum",
        F.when(F.isnull(F.col("__g")), F.lit(True)).alias(
            "asof_eq_version"
        ),
    )


@_q(
    "versioned_schema_evolution",
    """
    WITH cl AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
             value
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ), b AS (
      SELECT ((MIN(ts_us // 86400000000)
               + MAX(ts_us // 86400000000)) // 2 + 1) * 86400000000
               AS cutoff
      FROM cl
    ), labelled AS (
      SELECT 'v1' AS snap, ts_us, CAST(NULL AS BIGINT) AS cents
      FROM cl, b WHERE ts_us < cutoff
      UNION ALL
      SELECT 'latest' AS snap, ts_us,
             CASE WHEN ts_us >= cutoff
                  THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
             END AS cents
      FROM cl, b
    )
    SELECT snap, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(cents) AS BIGINT) AS n_with_cents,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents,
           CAST(SUM(ts_us % 2147483647) % 2147483647 AS BIGINT)
             AS ts_checksum,
           TRUE AS v1_schema_unevolved
    FROM labelled GROUP BY snap
    """,
)
def versioned_schema_evolution_q(spark, sf_dir):
    """SCHEMA EVOLUTION on the snapshot store value-graded (late r9 —
    the add-column behavior the reference gets from Iceberg
    (duckdb-init.sql:24-36's table surface; previously covered only by
    the jar-gated iceberg_io), runnable and driver-graded on the bare
    filesystem): snapshot v1 writes the changelog's old half WITHOUT
    the `value_cents` column, v2 APPENDS the new half WITH it — the
    manifest unions files of two schemas — then:
    - `read(merge_schema=True)` (the evolution read) must surface the
      UNION schema with the old rows' cents NULL: the carrier row
      hashes total rows, non-null-cents count (exactly the new half),
      and the exact integer cents sum — a read that dropped the new
      column, dropped old rows, or backfilled anything but NULL flips
      a value;
    - `read(version=1)` must come back with the UNEVOLVED schema
      (time travel returns that version's schema — raised on in code,
      surfaced as `v1_schema_unevolved`), and `value_cents` must be
      present on the merged read (also raised on).
    Cents quantize via the half-free FLOOR grid (the streaming
    attribution convention — identical IEEE ops both engines).
    Construction writes two snapshots under /tmp keyed by sf_dir
    (fresh rebuild — idempotent). Scale: schema evolution is METADATA
    — no rewrite of old files ever; the merge read reconciles footers
    at planning time, off by default so same-schema tables don't pay
    it (sources/fs_versioned.py read(merge_schema=);
    tests/test_fs_versioned.py)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.dedup import (
        MERSENNE,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = events.select(
        "event_id",
        "user_id",
        sec("ts", "MICROSECOND").alias("ts_us"),
        "event_type",
        "value",
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        cutoff_us = 0
    else:
        cutoff_us = (
            (bounds["lo"] + bounds["hi"]) // 2 + 1
        ) * 86_400_000_000

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_versioned_evo_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite(
        cl.filter(F.col("ts_us") < F.lit(cutoff_us)).select(
            "event_id", "user_id", "ts_us", "event_type"
        )
    )
    vt.append(
        cl.filter(F.col("ts_us") >= F.lit(cutoff_us)).select(
            "event_id",
            "user_id",
            "ts_us",
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("value_cents"),
        )
    )
    r_v1 = vt.read(version=1)
    if "value_cents" in r_v1.columns:
        raise RuntimeError(
            "versioned_schema_evolution: read(version=1) surfaced the "
            "post-evolution column — time travel must return the "
            "schema AS OF that version"
        )
    r_latest = vt.read(merge_schema=True)
    if "value_cents" not in r_latest.columns:
        raise RuntimeError(
            "versioned_schema_evolution: merge_schema read lost the "
            "evolved column"
        )

    v1_row = r_v1.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("n_with_cents"),
        F.lit(0).cast("long").alias("sum_cents"),
        (F.sum(F.col("ts_us") % F.lit(MERSENNE)) % F.lit(MERSENNE))
        .cast("long")
        .alias("ts_checksum"),
    ).select(F.lit("v1").alias("snap"), "*")
    latest_row = r_latest.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value_cents").cast("long").alias("n_with_cents"),
        F.coalesce(F.sum("value_cents"), F.lit(0))
        .cast("long")
        .alias("sum_cents"),
        (F.sum(F.col("ts_us") % F.lit(MERSENNE)) % F.lit(MERSENNE))
        .cast("long")
        .alias("ts_checksum"),
    ).select(F.lit("latest").alias("snap"), "*")
    return v1_row.unionByName(latest_row).select(
        "*", F.lit(True).alias("v1_schema_unevolved")
    )


@_q(
    "versioned_expire_gc",
    """
    WITH cl AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ), b AS (
      SELECT MIN(ts_us // 86400000000) AS lo,
             MAX(ts_us // 86400000000) AS hi
      FROM cl
    ), bands AS (
      SELECT (lo + (hi - lo) // 3) * 86400000000 AS band_lo,
             (lo + 2 * ((hi - lo) // 3)) * 86400000000 AS band_hi
      FROM b
    ), labelled AS (
      SELECT 'v2' AS snap, cl.* FROM cl, bands
      WHERE ts_us >= band_lo AND ts_us < band_hi
      UNION ALL
      SELECT 'latest' AS snap, cl.* FROM cl, bands
      WHERE ts_us >= band_lo
    )
    SELECT snap, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(ts_us % 2147483647) % 2147483647 AS BIGINT)
             AS ts_checksum,
           CAST(SUM((event_id % 2147483647)
                    * (('0x' || substr(md5(event_type), 1, 15))::BIGINT
                       % 2147483647)
                    % 2147483647) % 2147483647 AS BIGINT)
             AS type_checksum,
           TRUE AS expired_unreadable, TRUE AS gc_exact
    FROM labelled GROUP BY snap
    """,
)
def versioned_expire_gc_q(spark, sf_dir):
    """Snapshot EXPIRY + GC value-graded (late r9 — closes §2.A's last
    pytest-only contract, completing the directive-5 time-travel
    grades with the maintenance half of the Iceberg snapshot surface,
    ref cookbook §1.7 expire_snapshots): the events changelog splits
    into day-thirds A/B/C; v1 = overwrite(A), v2 = OVERWRITE(B) — so
    v1's files are referenced by NO later snapshot — v3 = append(C)
    (v3 = v2 ∪ C). `expire_snapshots(keep_last=2)` must then: expire
    exactly [v1]; physically delete exactly v1's data files (they are
    unreferenced) while every v2/v3 file survives — the
    reference-counted GC rule, checked file-by-file against the
    pre-expiry manifest and surfaced as `gc_exact`; leave
    `read(version=1)` RAISING (expired version) — probed in-code and
    surfaced as `expired_unreadable`; and leave the RETAINED reads
    byte-intact — `read(version=2)` ≡ band B and `read()` ≡ B ∪ C,
    both reconstructed by the SQL oracle from the raw changelog (a GC
    that deleted a still-referenced file would flip a checksum; one
    that deleted nothing would flip `gc_exact`). Carrier rows reuse
    the versioned_read_asof exact-integer aggregate shape.
    Construction writes three snapshots + the expiry under /tmp keyed
    by sf_dir (fresh rebuild per invocation — idempotent). Scale:
    expiry is manifest arithmetic + unlink of unreferenced files —
    O(files), never a data rewrite (sources/fs_versioned.py
    expire_snapshots; tests/test_fs_versioned.py pins the shared-file
    retention case this layout deliberately avoids)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.dedup import (
        MERSENNE,
        word_hash,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = events.select(
        "event_id",
        "user_id",
        sec("ts", "MICROSECOND").alias("ts_us"),
        "event_type",
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        band_lo_us = band_hi_us = 0
    else:
        lo, hi = bounds["lo"], bounds["hi"]
        if hi - lo < 3:
            # ADVICE r9: with <3 distinct days the day-third bands
            # collapse to empty and the construction would fail later
            # with a confusing "snapshot is empty" / gc_exact error —
            # mirror the strictly-increasing-timestamps guard style
            # and name the precondition instead
            raise RuntimeError(
                "day-third band split needs an events changelog "
                f"spanning >= 3 distinct days (got days {lo}..{hi}) — "
                "this entry grades at sf >= 0.001 fixtures by design"
            )
        band_lo_us = (lo + (hi - lo) // 3) * 86_400_000_000
        band_hi_us = (lo + 2 * ((hi - lo) // 3)) * 86_400_000_000

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_versioned_gc_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite(cl.filter(F.col("ts_us") < F.lit(band_lo_us)))
    vt.overwrite(
        cl.filter(
            (F.col("ts_us") >= F.lit(band_lo_us))
            & (F.col("ts_us") < F.lit(band_hi_us))
        )
    )
    vt.append(cl.filter(F.col("ts_us") >= F.lit(band_hi_us)))
    pre = {s["version"]: list(s["files"]) for s in vt._load_manifest()}
    expired = vt.expire_snapshots(keep_last=2)
    if expired != [1]:
        raise RuntimeError(
            f"versioned_expire_gc: expected exactly [1] expired, got "
            f"{expired}"
        )
    # reference-counted GC, checked file-by-file: exactly v1's
    # (unreferenced) files deleted, every retained file intact
    retained_files = set(pre[2]) | set(pre[3])
    doomed = [f for f in pre[1] if f not in retained_files]
    gc_exact = (
        len(doomed) > 0
        and not any(os.path.exists(f) for f in doomed)
        and all(os.path.exists(f) for f in retained_files)
    )
    try:
        vt.read(version=1)
        expired_unreadable = False
    except ValueError:
        expired_unreadable = True

    r_v2 = vt.read(version=2)
    r_latest = vt.read()

    def snap_agg(df, label):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.sum(F.col("ts_us") % F.lit(MERSENNE)) % F.lit(MERSENNE))
            .cast("long")
            .alias("ts_checksum"),
            (
                F.sum(
                    (F.col("event_id") % F.lit(MERSENNE))
                    * word_hash(F.col("event_type"))
                    % F.lit(MERSENNE)
                )
                % F.lit(MERSENNE)
            )
            .cast("long")
            .alias("type_checksum"),
        ).select(F.lit(label).alias("snap"), "*")

    return (
        snap_agg(r_v2, "v2")
        .unionByName(snap_agg(r_latest, "latest"))
        .select(
            "*",
            F.lit(bool(expired_unreadable)).alias("expired_unreadable"),
            F.lit(bool(gc_exact)).alias("gc_exact"),
        )
    )


@_q(
    "scd2_delete_cdc",
    """
    WITH cl0 AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), cl AS (
      SELECT user_id, ts_us, attr,
             CASE WHEN (user_id + ts_us // 1000000) % 7 = 0
                  THEN 'delete' ELSE 'upsert' END AS op
      FROM cl0
    ), dd AS (
      SELECT user_id, ts_us, attr,
             CASE WHEN op = 'delete' THEN NULL ELSE attr END AS state,
             LAG(CASE WHEN op = 'delete' THEN NULL ELSE attr END)
               OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
      FROM cl
    ), kept AS (
      SELECT user_id, ts_us, attr, state FROM dd
      WHERE state IS DISTINCT FROM prev
    ), led AS (
      SELECT user_id, attr, state, ts_us AS eff_from_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS eff_to_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               IS NULL AS is_current
      FROM kept
    )
    SELECT user_id, attr, eff_from_us, eff_to_us, is_current,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY eff_from_us) AS BIGINT) AS version_seq
    FROM led WHERE state IS NOT NULL
    """,
)
def scd2_delete_cdc_q(spark, sf_dir):
    """SCD2 merge with CDC DELETE ops value-graded (r10 — VERDICT r9
    directive 3: ``MERGE INTO ... WHEN MATCHED THEN DELETE`` semantics,
    ref api/main.py:492-604's MERGE surface; the jar-gated literal is
    sources/iceberg_io.py delete_where): the events changelog gains a
    deterministic op column — (user_id + ts_us//1e6) % 7 = 0 plays
    'delete' (~14% of rows, scattered through every key's history so
    delete-then-reinsert and delete-inside-collapsed-run cases occur
    naturally at every SF; both are ALSO planted explicitly in
    tests/test_scd2.py) — computed from (key, ts) so the (key, ts)
    normalization is op-agnostic and both engines agree. The entry
    splits at the midpoint day, builds the dimension from the old half
    (delete-aware state machine: a delete CLOSES the open version at
    its timestamp without opening a new one; a later upsert reopens,
    even with an unchanged attribute), then merges the new half
    through ``scd2_merge(op_col=...)`` — whose append-order guard
    generalizes to the per-key FRONTIER (max(coalesce(eff_to,
    eff_from))) because a deleted key has no open row. The oracle
    rebuilds from the FULL op-tagged changelog in one SQL window pass
    (IS DISTINCT FROM = the null-safe state compare); merged must
    equal rebuilt row-for-row, and per-key version_seq hashes the
    effective-dating order itself. Construction runs one bounded
    min/max-day aggregate (2 ints). Scale: merge cost stays
    batch-sized (broadcast key semi/anti; the frontier aggregate is
    touched-keys-only) — the op path adds a CASE, no new shuffle
    (operators/relational.py scd2_from_changelog/scd2_merge)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
        .withColumn(
            "op",
            F.when(
                (
                    F.col("user_id")
                    + F.expr("ts_us div 1000000")
                )
                % F.lit(7)
                == F.lit(0),
                F.lit("delete"),
            ).otherwise(F.lit("upsert")),
        )
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        cutoff_us = 0
    else:
        cutoff_us = (
            (bounds["lo"] + bounds["hi"]) // 2 + 1
        ) * 86_400_000_000
    old = cl.filter(F.col("ts_us") < F.lit(cutoff_us))
    batch = cl.filter(F.col("ts_us") >= F.lit(cutoff_us))
    dim = scd2_from_changelog(old, op_col="op")
    merged = scd2_merge(dim, batch, op_col="op")
    w = Window.partitionBy("user_id").orderBy("eff_from_us")
    return merged.select(
        "user_id",
        "attr",
        "eff_from_us",
        "eff_to_us",
        "is_current",
        F.row_number().over(w).cast("long").alias("version_seq"),
    )


@_q(
    "versioned_cow_partitions",
    """
    WITH cl AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), b AS (
      SELECT ((MIN(ts_us // 86400000000)
               + MAX(ts_us // 86400000000)) // 2 + 1) * 86400000000
               AS cutoff
      FROM cl
    ), src AS (
      SELECT cl.* FROM cl, b
      WHERE ts_us < cutoff OR user_id % 8 < 3
    ), dd AS (
      SELECT user_id, ts_us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS prev
      FROM src
    ), kept AS (
      SELECT user_id, ts_us, attr FROM dd
      WHERE prev IS NULL OR attr <> prev
    )
    SELECT user_id, CAST(user_id % 8 AS INTEGER) AS bucket, attr,
           ts_us AS eff_from_us,
           LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
             AS eff_to_us,
           LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
             IS NULL AS is_current,
           user_id % 8 >= 3 AS carried
    FROM kept
    """,
)
def versioned_cow_partitions_q(spark, sf_dir):
    """PARTITION-SCOPED copy-on-write value-graded (r10 — VERDICT r9
    directive 2, the batch face of the rule the CDC sink now uses; ref
    duckdb-init.sql:24-36's Iceberg storage tier, whose CoW MERGE
    rewrites only touched data files): the dimension built from the
    OLD half of the events changelog lands as a key-bucketed
    ``VersionedTable`` snapshot (bucket = user_id % 8 — chosen over a
    hash so the ORACLE can reproduce bucket membership); the merge
    batch is the new half RESTRICTED to buckets 0-2, so v2 =
    ``overwrite_partitions`` must rewrite exactly those three buckets
    while buckets 3-7 carry their v1 data files PATH-IDENTICAL into
    v2's manifest. The construction RAISES unless (a) every untouched
    bucket's file list is verbatim-equal across v1→v2 and (b) every
    touched bucket's changed — the carry-forward property itself is
    load-bearing, then the returned frame re-reads v2 THROUGH the
    manifest (read path graded end-to-end) with each row's bucket and
    a `carried` flag. The oracle rebuilds from the changelog filtered
    to (old half ∪ new-half-buckets-0-2) in one window pass — a wrong
    bucket routing, a stale carried file, or a lost rewrite all flip
    the hash. Construction: two snapshot writes + one bounded min/max
    day aggregate. Scale: write cost per merge batch is (touched
    buckets) × bucket size, never the dimension — at 100 TB with
    1024-8192 buckets this is the difference between batch-sized and
    dimension-sized CoW (sources/fs_versioned.py overwrite_partitions;
    tests/test_fs_versioned.py pins the file-identity and GC rules)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        cutoff_us = 0
    else:
        cutoff_us = (
            (bounds["lo"] + bounds["hi"]) // 2 + 1
        ) * 86_400_000_000
    bucket = F.pmod(F.col("user_id"), F.lit(8)).cast("int")
    old = cl.filter(F.col("ts_us") < F.lit(cutoff_us))
    batch = cl.filter(
        (F.col("ts_us") >= F.lit(cutoff_us)) & (bucket < F.lit(3))
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_versioned_cow_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite_partitions(
        scd2_from_changelog(old).withColumn("bucket", bucket), "bucket"
    )
    merged = scd2_merge(
        vt.read_buckets([0, 1, 2], with_bucket_col=False), batch
    )
    vt.overwrite_partitions(merged.withColumn("bucket", bucket), "bucket")
    b1, b2 = vt.buckets(version=1), vt.buckets(version=2)
    for bval in sorted(b1):
        same = b1[bval]["files"] == b2.get(bval, {}).get("files")
        if int(bval) >= 3 and not same:
            raise RuntimeError(
                f"versioned_cow_partitions: untouched bucket {bval} "
                "was rewritten — carry-forward broke (files differ "
                "between v1 and v2)"
            )
        if int(bval) < 3 and same:
            raise RuntimeError(
                f"versioned_cow_partitions: touched bucket {bval} "
                "carries v1's files verbatim — the rewrite was lost"
            )
    return vt.read().select(
        "user_id",
        bucket.alias("bucket"),
        "attr",
        "eff_from_us",
        "eff_to_us",
        "is_current",
        (bucket >= F.lit(3)).alias("carried"),
    )


@_q(
    "scd2_late_cow",
    """
    WITH cl AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), b AS (
      SELECT MIN(ts_us // 86400000000) AS lo,
             MAX(ts_us // 86400000000) AS hi
      FROM cl
    ), bands AS (
      SELECT (lo + (hi - lo) // 3) * 86400000000 AS band_lo,
             (lo + 2 * ((hi - lo) // 3)) * 86400000000 AS band_hi
      FROM b
    ), src AS (
      SELECT cl.* FROM cl, bands
      WHERE ts_us < band_lo OR ts_us >= band_hi OR user_id % 8 < 3
    ), late_keys AS (
      SELECT DISTINCT user_id FROM cl, bands
      WHERE ts_us >= band_lo AND ts_us < band_hi
        AND user_id % 8 < 3
    ), dd AS (
      SELECT user_id, ts_us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS prev
      FROM src
    ), kept AS (
      SELECT user_id, ts_us, attr FROM dd
      WHERE prev IS NULL OR attr <> prev
    ), dim AS (
      SELECT user_id, attr, ts_us AS eff_from_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS eff_to_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               IS NULL AS is_current
      FROM kept
    )
    SELECT d.user_id, CAST(d.user_id % 8 AS INTEGER) AS bucket,
           d.attr, d.eff_from_us, d.eff_to_us, d.is_current,
           lk.user_id IS NOT NULL AS reopened,
           d.user_id % 8 >= 3 AS carried
    FROM dim d LEFT JOIN late_keys lk ON d.user_id = lk.user_id
    """,
)
def scd2_late_cow_q(spark, sf_dir):
    """LATE-arrival merge against the BUCKETED store with
    partition-scoped copy-on-write value-graded (late r10 — the
    composition closing the CoW MERGE story: r9's `scd2_merge_late`
    affected-key rewrite × r10's `overwrite_partitions` carry-forward;
    this is what Iceberg CoW does for out-of-order data — late rows
    rewrite ONLY the data files of partitions holding affected keys,
    ref api/main.py:492-604's MERGE surface): the full-changelog
    dimension minus its MIDDLE day-third lands bucketed by user_id % 8
    (oracle-reproducible bucketing, the versioned_cow_partitions
    convention); the late batch is the middle band RESTRICTED to
    buckets 0-2; `scd2_merge_late_cow` must rewrite exactly the
    buckets holding late keys — the construction RAISES unless every
    bucket ≥3 carries its v1 files PATH-IDENTICAL and every
    late-key bucket's file list changed — and the returned frame
    re-reads v2 through the manifest with per-row bucket, `reopened`
    (key had late rows — grades the affected-key scoping), and
    `carried` flags. The oracle rebuilds from (changelog minus the
    band ∪ the band's bucket-0-2 rows) in one window pass — a stale
    carried file, a wrong bucket route, a dim-replay shortcut (late
    rows inside collapsed runs), or a lost rewrite all flip the hash.
    Construction: two snapshot writes + one bounded min/max-day
    aggregate + a ≤3-value touched-bucket collect. Scale: cost =
    affected keys' changelog slice re-window + touched buckets
    written + manifest pointer copies — never the dimension
    (operators/relational.py scd2_merge_late_cow;
    tests/test_scd2.py pins the split-run + file-identity case)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge_late_cow,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = (
        events.select(
            "user_id",
            sec("ts", "MICROSECOND").alias("ts_us"),
            "event_type",
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_type").alias("attr"))
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        band_lo_us = band_hi_us = 0
    else:
        lo, hi = bounds["lo"], bounds["hi"]
        if hi - lo < 3:
            raise RuntimeError(
                "day-third band split needs an events changelog "
                f"spanning >= 3 distinct days (got days {lo}..{hi}) — "
                "this entry grades at sf >= 0.001 fixtures by design"
            )
        band_lo_us = (lo + (hi - lo) // 3) * 86_400_000_000
        band_hi_us = (lo + 2 * ((hi - lo) // 3)) * 86_400_000_000
    in_band = (F.col("ts_us") >= F.lit(band_lo_us)) & (
        F.col("ts_us") < F.lit(band_hi_us)
    )
    bucket = F.pmod(F.col("user_id"), F.lit(8)).cast("int")
    old = cl.filter(~in_band)
    late = cl.filter(in_band & (bucket < F.lit(3)))

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_scd2_late_cow_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite_partitions(
        scd2_from_changelog(old).withColumn("bucket", bucket), "bucket"
    )
    scd2_merge_late_cow(vt, late, old, bucket)
    late_buckets = {
        str(r["__b"])
        for r in late.select(bucket.alias("__b")).distinct().collect()
    }
    b1, b2 = vt.buckets(version=1), vt.buckets(version=2)
    for bval in sorted(b1):
        same = b1[bval]["files"] == b2.get(bval, {}).get("files")
        if bval not in late_buckets and not same:
            raise RuntimeError(
                f"scd2_late_cow: untouched bucket {bval} was "
                "rewritten — carry-forward broke"
            )
        if bval in late_buckets and same:
            raise RuntimeError(
                f"scd2_late_cow: affected bucket {bval} carries v1's "
                "files verbatim — the late rewrite was lost"
            )
    bk = late.select("user_id").distinct().withColumn("__r", F.lit(True))
    return (
        vt.read()
        .join(F.broadcast(bk), "user_id", "left")
        .select(
            "user_id",
            bucket.alias("bucket"),
            "attr",
            "eff_from_us",
            "eff_to_us",
            "is_current",
            F.coalesce(F.col("__r"), F.lit(False)).alias("reopened"),
            (bucket >= F.lit(3)).alias("carried"),
        )
    )


@_q(
    "versioned_incremental_read",
    """
    WITH cl AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ), b AS (
      SELECT MIN(ts_us // 86400000000) AS lo,
             MAX(ts_us // 86400000000) AS hi
      FROM cl
    ), bands AS (
      SELECT (lo + (hi - lo) // 3) * 86400000000 AS band_lo,
             (lo + 2 * ((hi - lo) // 3)) * 86400000000 AS band_hi
      FROM b
    ), labelled AS (
      SELECT 'v1_to_v2' AS rng, cl.* FROM cl, bands
      WHERE ts_us >= band_lo AND ts_us < band_hi
      UNION ALL
      SELECT 'v2_to_v3' AS rng, cl.* FROM cl, bands
      WHERE ts_us >= band_hi
      UNION ALL
      SELECT 'v1_to_v3' AS rng, cl.* FROM cl, bands
      WHERE ts_us >= band_lo
    )
    SELECT rng, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(ts_us % 2147483647) % 2147483647 AS BIGINT)
             AS ts_checksum,
           CAST(SUM((event_id % 2147483647)
                    * (('0x' || substr(md5(event_type), 1, 15))::BIGINT
                       % 2147483647)
                    % 2147483647) % 2147483647 AS BIGINT)
             AS type_checksum,
           TRUE AS overwrite_refused
    FROM labelled GROUP BY rng
    """,
)
def versioned_incremental_read_q(spark, sf_dir):
    """INCREMENTAL (changes-since) read on the snapshot store
    value-graded (late r10 — the Iceberg incremental-scan contract
    `spark.read.option("start-snapshot-id", ...)`, cookbook §1.7,
    jar-less; the CONSUME side of the CDC loop the r9/r10 entries
    graded the produce side of, and the only-new-files pattern every
    recurring training-data job runs on): day-thirds A/B/C land as
    v1 = overwrite(A), v2 = append(B), v3 = append(C);
    `read_changes(1, 2)` must return exactly B, `read_changes(2)`
    exactly C, and `read_changes(1)` exactly B ∪ C — each delta is a
    MANIFEST DIFF (the files the range's snapshots added; appends
    never rewrite, so the file delta IS the row delta), reconstructed
    independently by the SQL oracle from the raw changelog's bands.
    The append-only precondition is probed in-code: v4 = overwrite
    makes `read_changes(3)` RAISE (an overwrite's file delta is not a
    row delta — Iceberg's incremental scan refuses the same way),
    surfaced as the `overwrite_refused` carrier column. Carrier rows
    reuse the versioned_read_asof exact-integer aggregate shape.
    Construction: four snapshot writes under /tmp keyed by sf_dir
    (fresh rebuild per invocation). Scale: incremental planning cost
    is the ADDED files only — a downstream job checkpointing its last
    processed version reads new footers, never a table scan
    (sources/fs_versioned.py read_changes;
    tests/test_fs_versioned.py pins the delta and refusal rules)."""
    import hashlib
    import shutil

    from iceberg_geospatial_api_server_spark.operators.dedup import (
        MERSENNE,
        word_hash,
    )
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sec = epoch_of(events, "ts")
    cl = events.select(
        "event_id",
        "user_id",
        sec("ts", "MICROSECOND").alias("ts_us"),
        "event_type",
    )
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    bounds = cl.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        band_lo_us = band_hi_us = 0
    else:
        lo, hi = bounds["lo"], bounds["hi"]
        if hi - lo < 3:
            raise RuntimeError(
                "day-third band split needs an events changelog "
                f"spanning >= 3 distinct days (got days {lo}..{hi}) — "
                "this entry grades at sf >= 0.001 fixtures by design"
            )
        band_lo_us = (lo + (hi - lo) // 3) * 86_400_000_000
        band_hi_us = (lo + 2 * ((hi - lo) // 3)) * 86_400_000_000

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_versioned_incr_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    vt = VersionedTable(spark, path)
    vt.overwrite(cl.filter(F.col("ts_us") < F.lit(band_lo_us)))
    vt.append(
        cl.filter(
            (F.col("ts_us") >= F.lit(band_lo_us))
            & (F.col("ts_us") < F.lit(band_hi_us))
        )
    )
    vt.append(cl.filter(F.col("ts_us") >= F.lit(band_hi_us)))
    ranges = {
        "v1_to_v2": vt.read_changes(1, 2),
        "v2_to_v3": vt.read_changes(2),
        "v1_to_v3": vt.read_changes(1),
    }
    # append-only precondition probe: after an overwrite, the
    # changefeed past it must REFUSE (file delta ≠ row delta)
    vt.overwrite(cl.filter(F.col("ts_us") < F.lit(band_lo_us)))
    try:
        vt.read_changes(3)
        overwrite_refused = False
    except ValueError:
        overwrite_refused = True

    def range_agg(df, label):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.sum(F.col("ts_us") % F.lit(MERSENNE)) % F.lit(MERSENNE))
            .cast("long")
            .alias("ts_checksum"),
            (
                F.sum(
                    (F.col("event_id") % F.lit(MERSENNE))
                    * word_hash(F.col("event_type"))
                    % F.lit(MERSENNE)
                )
                % F.lit(MERSENNE)
            )
            .cast("long")
            .alias("type_checksum"),
        ).select(F.lit(label).alias("rng"), "*")

    out = None
    for label, df in ranges.items():
        part = range_agg(df, label)
        out = part if out is None else out.unionByName(part)
    return out.select(
        "*", F.lit(bool(overwrite_refused)).alias("overwrite_refused")
    )


@_q(
    "part_entity_resolution",
    """
    WITH vocab AS (
      SELECT p_name AS name, split_part(p_name, ' ', 2) AS blk,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM part WHERE p_name IS NOT NULL GROUP BY 1, 2
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n AS n_records_a, b.n AS n_records_b
    FROM vocab a JOIN vocab b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def part_entity_resolution_q(spark, sf_dir):
    """Record-linkage candidate generation value-graded (r8 — entity
    resolution, the merge-two-catalogs pipeline step no prior entry
    covered): fuzzy match over the DISTINCT part-name vocabulary,
    blocked by the name's noun (split_part 2), scored with exact
    Levenshtein ≤ 3, each side carrying its record support count.
    Levenshtein is the classic DP — identical integers in any engine —
    so pairs, distances, AND counts all hash. The load-bearing scale
    property: records collapse to the (name, block, count) vocabulary
    FIRST, and the quadratic candidate join runs over the blocked
    DISTINCT vocab only (62-64 names at every test SF — vocabulary
    grows sublinearly in records, the realistic ER regime; the 10×
    row proxy is therefore trivially ~1 and is disclosed as such, the
    corpus_bpe_merges convention)
    (operators/text.py fuzzy_match_candidates)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        fuzzy_match_candidates,
    )

    part = _t(spark, sf_dir, "part")
    return fuzzy_match_candidates(
        part,
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
        max_dist=3,
    )


@_q(
    "events_gapfill_ffill",
    """
    WITH hourly AS (
      SELECT user_id AS key,
             CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                        / 3600) AS BIGINT) AS h,
             MAX(event_type) AS v
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        AND user_id IS NOT NULL
      GROUP BY 1, 2
    ), bounds AS (
      SELECT key, MIN(h) AS h_lo, MAX(h) AS h_hi FROM hourly GROUP BY 1
    ), spine AS (
      SELECT key, h_lo, unnest(generate_series(h_lo, h_hi)) AS h
      FROM bounds
    ), filled AS (
      SELECT s.key, s.h_lo, s.h, hv.v IS NULL AS was_gap,
             last_value(hv.v IGNORE NULLS) OVER (
               PARTITION BY s.key ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS fv
      FROM spine s LEFT JOIN hourly hv
        ON hv.key = s.key AND hv.h = s.h
    )
    SELECT key AS user_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN was_gap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_filled,
           CAST(SUM(
             ((h - h_lo) % 2147483647)
             * (('0x' || substr(md5(fv), 1, 15))::BIGINT % 2147483647)
             % 2147483647
           ) % 2147483647 AS BIGINT) AS series_checksum
    FROM filled GROUP BY 1
    """,
)
def events_gapfill_ffill_q(spark, sf_dir):
    """Time-series gap-fill + forward fill value-graded (r8 — the
    resample/LOCF regularization every seasonality or window model
    needs over irregular event streams; no prior entry densified a
    grid): per user, hourly observations (MAX within the hour — the
    agreed tie rule) densify to EVERY hour between the user's first
    and last event via an exploded sequence spine, gaps carry the last
    observed value forward (last IGNORE NULLS ≡ DuckDB last_value
    IGNORE NULLS), and the filled series hashes as one exact integer
    checksum per user (Σ (hour_index · word_hash(value)) mod M) plus
    observed/filled hour counts — a moved, dropped, or wrongly-carried
    fill shifts the checksum. Scale: one key-hour exchange, the spine
    explodes map-side from per-key bounds (never a global calendar
    cross join), LOCF is one window on the key exchange; span outliers
    are the documented skew hazard
    (operators/relational.py events_gapfill_ffill)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_gapfill_ffill,
    )

    events = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return events_gapfill_ffill(events)


@_q(
    "mm_phash_parity",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b
      ON b.doc_id = a.doc_id + 1 AND b.doc_id % 10 = 1 AND b.doc_id > 0
    ORDER BY id_a
    """,
)
def mm_phash_parity_q(spark, sf_dir):
    """Perceptual-hash dedup DETECTION value-graded (the planted-truth
    oracle form of mm_phash_pairs): the fixture plants near-duplicates
    as (d−1, d) for d % 10 == 1, so the exact pair relation is one SQL
    join — the real PNG encode → decode → DCT pHash → block-bucket join
    → bit_count verify pipeline must recover EVERY planted pair and
    emit ZERO others (observed exact at sf0.01: 50/50 and sf0.1:
    500/500 in the full sweeps; independent 8×8-seed images sit ~32
    bits apart vs the ≤3 threshold, so the margin is structural, not
    luck). Hamming values stay ungraded (jitter-dependent DCT)."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        image_phash,
        phash_dedup_pairs,
        synthesize_image_corpus,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    media = synthesize_image_corpus(
        spread(_t(spark, sf_dir, "documents"), None)
    )
    hashes = image_phash(media, stub=False)
    return (
        phash_dedup_pairs(hashes, max_hamming=3)
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


@_q("mm_phash_pairs")  # rows-only: DCT perceptual hash isn't SQL-expressible
def mm_phash_pairs_q(spark, sf_dir):
    """Near-duplicate image detection by 64-bit pHash (32×32 DCT,
    median-threshold bits) + 16-bit-block bucket join with exact
    bit_count(xor) verification — dedup_simhash's scale shape applied to
    the image modality. Runs the REAL pipeline end-to-end: PNG encode
    (distributed fixture with planted brightness-jittered near-dups) →
    stdlib PNG decode → DCT hash → bucketed pair join."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        image_phash,
        phash_dedup_pairs,
        synthesize_image_corpus,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    media = synthesize_image_corpus(
        spread(_t(spark, sf_dir, "documents"), None)
    )
    hashes = image_phash(media, stub=False)
    return phash_dedup_pairs(hashes, max_hamming=3).orderBy("id_a", "id_b")


@_q(
    "mm_audio_fp_parity",
    """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
    a AS (
      SELECT doc_id, i,
             ((doc_id * 31 + i * 17) % 97) * 64 + i AS amp
      FROM (SELECT doc_id, UNNEST(generate_series(0, 32)) AS i FROM d)
    ), bits AS (
      SELECT cur.doc_id, cur.i AS di,
             CASE WHEN nxt.amp > cur.amp THEN 1 ELSE 0 END AS b
      FROM a cur JOIN a nxt
        ON nxt.doc_id = cur.doc_id AND nxt.i = cur.i + 1
      WHERE cur.i < 32
    )
    SELECT doc_id,
           CAST(SUM(CAST(b AS BIGINT) << di) AS BIGINT) AS fp_low
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def mm_audio_fp_parity_q(spark, sf_dir):
    """The REAL audio-fingerprint kernel VALUE-graded (VERDICT r5 item
    3 — the mm_decode_parity pattern applied to audio): crafted
    constant-per-frame WAVs (synthesize_crafted_audio) run the genuine
    decode → frame split → FFT band-energy → delta-sign → bit-pack
    pipeline, and the 32 LOW-band bits — exactly sign(a_{i+1} − a_i)
    because a constant frame's spectrum is pure DC — must equal the
    integer comparisons evaluated directly in SQL. A wrong frame
    split, band boundary, delta direction, or bit order scrambles the
    packed value. (High-band bits ride ~1e-13 FFT rounding noise —
    deterministic, pytest-pinned via planted duplicates, but not
    SQL-expressible; the entry extracts the low-band bits from the
    real 64-bit hash with pure bit arithmetic.)"""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        audio_fingerprint,
        synthesize_crafted_audio,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    fps = audio_fingerprint(
        synthesize_crafted_audio(docs), stub=False
    )
    bit = lambda i: F.shiftleft(  # noqa: E731
        F.shiftrightunsigned(F.col("phash"), 2 * i).bitwiseAND(F.lit(1)), i
    )
    low = bit(0)
    for i in range(1, 32):
        low = low + bit(i)
    return fps.select(
        "doc_id", low.cast("long").alias("fp_low")
    ).orderBy("doc_id")


@_q("mm_audio_fp_pairs")  # rows-only: FFT band-energy fingerprint isn't
# SQL-expressible; planted same-frequency pairs + amplitude invariance
# pinned in tests/test_multimodal.py
def mm_audio_fp_pairs_q(spark, sf_dir):
    """Near-duplicate audio detection: Haitsma-Kalker-style 64-bit
    sign-of-band-energy-delta fingerprint (amplitude-invariant) over
    REAL stdlib-decoded WAV clips, paired through the same hash-agnostic
    16-bit-block bucket join as image pHash. Fixture plants exact
    repeats: sine frequency cycles every 17 odd doc ids."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        audio_fingerprint,
        phash_dedup_pairs,
        synthesize_real_media,
    )
    from iceberg_geospatial_api_server_spark.util import spread

    media = synthesize_real_media(
        spread(_t(spark, sf_dir, "documents"), None)
    )
    fps = audio_fingerprint(media, stub=False)
    return phash_dedup_pairs(fps, max_hamming=2).orderBy("id_a", "id_b")


@_q(
    "corpus_epoch_order",
    """
    WITH t AS (
      SELECT doc_id,
             ((((((doc_id % 2147483647) + 2147483647) % 2147483647)
                + 323710631) % 2147483647)
              * 506952114) % 2147483647 AS ek
      FROM documents
    )
    SELECT doc_id, CAST(ek % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY ek % 8 ORDER BY ek, doc_id) - 1
                AS BIGINT) AS pos
    FROM t ORDER BY doc_id
    """,
)
def corpus_epoch_order_q(spark, sf_dir):
    """Epoch-3 deterministic training order: every doc's (shard, pos) is
    a pure function of (doc_id, epoch) — the oracle recomputes the
    epoch-mixed portable hash (offset 3·2971215073 mod M = 323710631) and
    the within-shard rank in SQL, value-grading both the key arithmetic
    and the rank. One shard exchange, never a global sort
    (operators/sampling.py epoch_shuffle)."""
    from iceberg_geospatial_api_server_spark.operators.sampling import (
        epoch_shuffle,
    )

    return (
        epoch_shuffle(_t(spark, sf_dir, "documents"), epoch=3, n_shards=8)
        .select("doc_id", "shard", "pos")
        # no final orderBy (r10, the r7 final-sort rule): the range
        # sampling re-executed this stage's windows/aggregates; every
        # consumer compares order-insensitively
    )


@_q(
    "text_tfidf_topk",
    """
    WITH base AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split(lower(text), ' '),
                                w -> regexp_matches(w, '^[a-z]+$'))) AS term
      FROM documents
    ), c0 AS (
      SELECT doc_id, source, term, COUNT(*) AS tf_doc
      FROM base GROUP BY doc_id, source, term
    ), tf AS (
      SELECT source, term, CAST(SUM(tf_doc) AS BIGINT) AS tf
      FROM c0 GROUP BY source, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS dfq FROM c0 GROUP BY term
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.source, tf.term, tf.tf,
             tf.tf * CAST(ROUND(LN(n.n_docs / CAST(dfreq.dfq AS DOUBLE))
                                * 1000000000.0) AS BIGINT) AS score
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    )
    SELECT source, term, tf,
           FLOOR(CAST(score AS DOUBLE) / 100000.0 + 0.5) / 10000.0 AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY score DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    ORDER BY source, tfidf DESC, term
    """,
)
def text_tfidf_topk_q(spark, sf_dir):
    """Top-5 TF-IDF terms per corpus source (data-card keyword summary).
    idf quantizes to an integer grain before the ranking multiply, so the
    top-k order is exact integer arithmetic on both engines — engine
    ln() ulp differences cannot reorder it (operators/text.py
    tfidf_top_terms)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


def _decon_spans_oracle(n: int) -> str:
    k = n - 1
    return f"""
    WITH bench AS (
      SELECT DISTINCT (('0x' || substr(md5(gs), 1, 15))::BIGINT % 2147483647) AS h
      FROM (SELECT unnest(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - {k}, 0)),
              i -> array_to_string(string_split(text, ' ')[i:i+{k}], ' '))) AS gs
            FROM documents WHERE doc_id % 97 = 0)
    ), corpus AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id % 97 <> 0
    ), ex AS (
      SELECT doc_id, u.i - 1 AS pos,
             (('0x' || substr(md5(array_to_string(ws[u.i:u.i+{k}], ' ')),
                             1, 15))::BIGINT % 2147483647) AS h
      FROM corpus,
           UNNEST(generate_series(1, greatest(len(ws) - {k}, 0))) u(i)
    ), hits AS (
      SELECT doc_id, pos FROM ex JOIN bench USING (h)
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {n}
                  THEN 1 ELSE 0 END AS b
      FROM hits
    ), isl AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS g
      FROM brk
    ), spans AS (
      SELECT doc_id, g, CAST(MIN(pos) AS BIGINT) AS lo,
             CAST(MAX(pos) + {k} AS BIGINT) AS hi
      FROM isl GROUP BY doc_id, g
    ), span_counts AS (
      SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
    ), toks AS (
      SELECT doc_id, u.i - 1 AS idx, ws[u.i] AS w
      FROM corpus, UNNEST(generate_series(1, len(ws))) u(i)
    ), masked AS (
      SELECT t.doc_id, t.idx,
             CASE WHEN s.lo IS NOT NULL THEN '<MASK>' ELSE t.w END AS w,
             CASE WHEN s.lo IS NOT NULL THEN 1 ELSE 0 END AS m
      FROM toks t LEFT JOIN spans s
        ON s.doc_id = t.doc_id AND t.idx BETWEEN s.lo AND s.hi
    )
    SELECT m.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(m.m) AS BIGINT) AS n_masked,
           CAST(COALESCE(MAX(sc.n_spans), 0) AS BIGINT) AS n_spans,
           md5(string_agg(m.w, ' ' ORDER BY m.idx)) AS scrubbed_md5
    FROM masked m LEFT JOIN span_counts sc ON m.doc_id = sc.doc_id
    GROUP BY m.doc_id ORDER BY m.doc_id
    """


@_q("corpus_decontaminate_spans", _decon_spans_oracle(3))
def corpus_decontaminate_spans_q(spark, sf_dir):
    """Span-level benchmark decontamination (the surgical variant of
    corpus_decontaminate): contaminated 8-gram windows merge into
    maximal spans (the dup_span_stats island machinery) and only those
    tokens mask; the oracle grades the RECONSTRUCTED masked text md5
    per document, not just counts (operators/text.py
    decontaminate_spans)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        decontaminate_spans,
    )

    return decontaminate_spans(
        _t(spark, sf_dir, "documents"), gram_tokens=3
    )


@_q(
    "text_lang_confusion",
    """
    WITH sw AS (
      SELECT * FROM (VALUES
        ('de', ['der','die','das','und','ist','von','mit','ein']),
        ('en', ['the','a','of','and','to','in','is','that']),
        ('es', ['el','la','de','que','y','en','un','es']),
        ('fr', ['le','la','et','les','des','un','est','que'])
      ) AS t(lang, words)
    ), scored AS (
      SELECT d.doc_id, d.lang,
             s.lang AS cand,
             len(list_filter(string_split(d.text, ' '),
                             w -> list_contains(s.words, w))) AS hits
      FROM documents d CROSS JOIN sw s
    ), best AS (
      SELECT doc_id, lang,
             COALESCE(MAX(CASE WHEN rn = 1 AND hits > 0 THEN cand END),
                      'und') AS lang_pred
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY hits DESC, cand) AS rn
            FROM scored)
      GROUP BY doc_id, lang
    )
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM best GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_lang_confusion_q(spark, sf_dir):
    """Language-ID confusion matrix: the heuristic `language_id`
    evaluated against the labeled `lang` column — the data-card quality
    report for the classifier stage. The oracle re-implements the
    argmax (first-max-wins on the sorted language order, 'und' when no
    stopword hits) in SQL; one tiny (lang, pred) aggregate."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        language_id,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


@_q(
    "events_dau_rolling",
    """
    WITH du AS (
      SELECT DISTINCT CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                                 / 86400) AS BIGINT) AS day, user_id
      FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY day
    ), fan AS (
      SELECT du.day + o.j AS day, du.user_id
      FROM du, UNNEST(generate_series(0, 6)) o(j)
    ), wau AS (
      SELECT day, COUNT(DISTINCT user_id) AS wau
      FROM fan GROUP BY day
    )
    SELECT d.day, d.dau, w.wau,
           CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_micro
    FROM dau d JOIN wau w USING (day)
    ORDER BY d.day
    """,
)
def events_dau_rolling_q(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per day: rolling DISTINCT
    is not sum-decomposable, so the (day, user) distinct frame fans out
    map-side to the 7 window-end days it serves (the hopping-window
    trick) and ONE distinct-count per target day is exact. Stickiness
    at an integer micro grain — no float division in the hash. Days
    with DAU but an incomplete trailing window still report (their WAU
    covers the days that exist)."""
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events")
    sec = epoch_of(events, "ts")
    day = F.floor(sec("ts", "SECOND") / F.lit(86400)).cast("long")
    du = events.select(day.alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    fan = du.withColumn(
        "__j", F.explode(F.sequence(F.lit(0), F.lit(6)))
    ).select((F.col("day") + F.col("__j")).alias("day"), "user_id")
    wau = fan.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("CAST((dau * 1000000) DIV wau AS BIGINT)").alias(
                "stickiness_micro"
            ),
        )
        .orderBy("day")
    )


_WILSON_STEPS: list[tuple[str, str]] = [
    ("n_d", "CAST(n_total AS DOUBLE)"),
    ("p_hat", "CAST(n_errors AS DOUBLE) / n_d"),
    ("z2", "1.96 * 1.96"),
    (
        "wilson_lo",
        "(p_hat + z2 / (2.0 * n_d)"
        " - 1.96 * SQRT(p_hat * (1.0 - p_hat) / n_d"
        "              + z2 / (4.0 * n_d * n_d)))"
        " / (1.0 + z2 / n_d)",
    ),
]


def _error_rate_oracle() -> str:
    sql = """
    WITH hours AS (
      SELECT CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                        / 3600) AS BIGINT) AS hour,
             COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )"""
    prev = "hours"
    for i, (name, expr) in enumerate(_WILSON_STEPS):
        sql += f", w{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"w{i}"
    sql += f"""
    SELECT hour, n_total, n_errors,
           CAST((n_errors * 1000000) // n_total AS BIGINT) AS rate_micro,
           ROUND(wilson_lo, 6) + 0.0 AS wilson_lo
    FROM {prev} ORDER BY hour
    """
    return sql


@_q("events_error_rate", _error_rate_oracle())
def events_error_rate_q(spark, sf_dir):
    """Per-hour error rate with the Wilson 95% lower confidence bound —
    the SLO/alerting statistic (Wilson, not the naive ratio, is what a
    burn-rate alert should use at low volume). Counts are exact
    integers off one hour-key exchange; the Wilson algebra is shared
    expression text (the GI_STEPS pattern), so the 6-dp bound
    hash-matches."""
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events")
    sec = epoch_of(events, "ts")
    hour = F.floor(sec("ts", "SECOND") / F.lit(3600)).cast("long")
    out = events.groupBy(hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    for name, sql in _WILSON_STEPS:
        out = out.withColumn(name, F.expr(sql))
    return out.select(
        "hour",
        "n_total",
        "n_errors",
        F.expr("CAST((n_errors * 1000000) DIV n_total AS BIGINT)").alias(
            "rate_micro"
        ),
        (F.round("wilson_lo", 6) + F.lit(0.0)).alias("wilson_lo"),
    ).orderBy("hour")


@_q(
    "orders_cohort_ltv",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1
                  AS BIGINT) AS mo,
             CAST(o_totalprice AS DECIMAL(18,6)) AS price
      FROM orders
    ), fst AS (
      SELECT o_custkey, MIN(mo) AS cohort FROM o GROUP BY 1
    ), sizes AS (
      SELECT cohort, COUNT(*) AS n_customers FROM fst GROUP BY 1
    ), aged AS (
      SELECT f.cohort, o.mo - f.cohort AS age, o.price, o.o_custkey
      FROM o JOIN fst f USING (o_custkey)
    ), grp AS (
      SELECT cohort, age, COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS n_active,
             SUM(price) AS rev
      FROM aged GROUP BY 1, 2
    ), cum AS (
      SELECT *, SUM(rev) OVER (PARTITION BY cohort ORDER BY age) AS cum_rev
      FROM grp
    )
    SELECT CAST(c.cohort // 12 * 100 + c.cohort % 12 + 1 AS BIGINT)
             AS cohort_month,
           CAST(age AS BIGINT) AS age,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(rev AS DOUBLE) AS revenue,
           FLOOR(CAST(cum_rev AS DOUBLE) / s.n_customers * 1000000.0 + 0.5)
             / 1000000.0 AS ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort)
    ORDER BY cohort_month, age
    """,
)
def orders_cohort_ltv_q(spark, sf_dir):
    """Acquisition-cohort LTV matrix (first-order-month cohorts ×
    month-of-age, cumulative DECIMAL-exact revenue, half-free per-head
    division — operators/relational.py orders_cohort_ltv)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        orders_cohort_ltv,
    )

    return orders_cohort_ltv(_t(spark, sf_dir, "orders"))


def _seasonal_oracle() -> str:
    from iceberg_geospatial_api_server_spark.operators.relational import (
        SEASONAL_FLAG,
        SEASONAL_STEPS,
    )

    sql = """
    WITH counts AS (
      SELECT CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                        / 3600) AS BIGINT) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1
    ), b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM counts),
    spine AS (SELECT UNNEST(generate_series(h0, h1)) AS h FROM b),
    dense AS (
      SELECT s.h, COALESCE(c.c, 0) AS c, s.h % 168 AS how
      FROM spine s LEFT JOIN counts c USING (h)
    ), base0 AS (
      SELECT how, COUNT(*) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS sx,
             CAST(SUM(c * c) AS BIGINT) AS sxx
      FROM dense GROUP BY how
    )"""
    prev = "base0"
    for i, (name, expr) in enumerate(SEASONAL_STEPS):
        sql += f", s{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"s{i}"
    sql += f"""
    , flags AS (
      SELECT d.how,
             CAST(SUM(CASE WHEN {SEASONAL_FLAG} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_anomalies
      FROM dense d JOIN {prev} b2 USING (how) GROUP BY d.how
    )
    SELECT CAST(b3.how AS INT) AS how,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(sx AS BIGINT) AS total_events,
           FLOOR(mean_c * 1000000.0 + 0.5) / 1000000.0 AS mean_events,
           ROUND(SQRT(var_c), 6) + 0.0 AS sd_events,
           n_anomalies
    FROM {prev} b3 JOIN flags USING (how)
    ORDER BY how
    """
    return sql


@_q("events_seasonal_anomaly", _seasonal_oracle())
def events_seasonal_anomaly_q(spark, sf_dir):
    """Hour-of-week seasonal baseline + 3σ volume anomalies (dense
    zero-filled hourly spine, exact-integer moments, shared-text
    predicate — operators/relational.py events_seasonal_anomaly)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_seasonal_anomaly,
    )

    return events_seasonal_anomaly(_t(spark, sf_dir, "events"))


@_q(
    "text_containment_pairs",
    f"""
    WITH t AS (SELECT doc_id, lang, {_GRAMS} AS grams FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             LEN(list_intersect(a.grams, b.grams))::DOUBLE AS inter,
             LEN(a.grams)::DOUBLE AS na, LEN(b.grams)::DOUBLE AS nb
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ), c AS (
      SELECT id_a, id_b,
             CASE WHEN na > 0 THEN inter / na ELSE 0.0 END AS c_ab,
             CASE WHEN nb > 0 THEN inter / nb ELSE 0.0 END AS c_ba
      FROM p
    )
    SELECT id_a, id_b,
           ROUND(c_ab, 6) AS containment_ab,
           ROUND(c_ba, 6) AS containment_ba
    FROM c WHERE c_ab >= 0.5 OR c_ba >= 0.5
    """,
)
def text_containment_q(spark, sf_dir):
    """Asymmetric shingle containment pairs (sub-document duplication
    that symmetric Jaccard dilutes — operators/dedup.py
    ngram_containment_pairs; same lang blocking and portable gram
    hashes as the graded ngram_jaccard_pairs)."""
    from iceberg_geospatial_api_server_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, ["lang"], n=3, threshold=0.5)


@_q(
    "events_session_paths",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ), sess AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n
      FROM s GROUP BY user_id, session_seq
    )
    SELECT path, COUNT(*) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM sess GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 25
    """,
)
def events_session_paths_q(spark, sf_dir):
    """Top-25 user-journey paths ('>'-joined session event sequences,
    totally ordered by ts then event_id — operators/relational.py
    session_paths; the discovery complement to the hypothesis-driven
    events_funnel)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        session_paths,
    )

    return session_paths(_t(spark, sf_dir, "events"), gap_minutes=30, k=25)


@_q(
    "events_bounce_rate",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ), sess AS (
      SELECT user_id, session_seq,
             CAST(FLOOR(CAST(FLOOR(epoch_us(MIN(ts)) / 1000000) AS BIGINT)
                        / 86400) AS BIGINT) AS day,
             COUNT(*) AS n
      FROM s GROUP BY user_id, session_seq
    )
    SELECT day, COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_micro
    FROM sess GROUP BY day ORDER BY day
    """,
)
def events_bounce_rate_q(spark, sf_dir):
    """Daily bounce rate (share of single-event sessions, keyed by the
    session's start day) — the standard engagement metric, derived on
    the same ONE user_id exchange as sessionize; the day aggregate is
    a second bounded exchange; rate at integer micro grain."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        session_tagged,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events")
    us = epoch_of(events, "ts")
    with_sid = session_tagged(events, gap_minutes=30)
    sess = with_sid.groupBy("user_id", "session_seq").agg(
        F.floor(us(F.min("ts"), "SECOND") / F.lit(86_400))
        .cast("long")
        .alias("day"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr(
                "CAST((n_bounces * 1000000) DIV n_sessions AS BIGINT)"
            ).alias("bounce_micro"),
        )
        .orderBy("day")
    )


@_q(
    "events_attribution_lag",
    """
    WITH v AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS total_micro
      FROM events WHERE event_type = 'purchase'
    ), pairs AS (
      SELECT p.event_id AS p_id, p.total_micro,
             epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
      FROM p JOIN v ON p.user_id = v.user_id
       AND v.ts <= p.ts AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
    ), credited AS (
      SELECT p_id, lag_us,
             total_micro // COUNT(*) OVER (PARTITION BY p_id)
               AS credit_micro
      FROM pairs
    )
    SELECT CASE WHEN lag_us <= 300000000 THEN '01_0_5m'
                WHEN lag_us <= 1800000000 THEN '02_5_30m'
                ELSE '03_30_60m' END AS lag_bucket,
           COUNT(*) AS n_touches,
           CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
           CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
    FROM credited GROUP BY 1 ORDER BY 1
    """,
)
def events_attribution_lag_q(spark, sf_dir):
    """Linear multi-touch attribution by conversion lag: each purchase's
    value (integer micro) splits equally over its qualifying prior
    views within 1 h (integer DIV — deterministic, remainder dropped by
    both engines identically), reported per lag bucket — the
    time-to-conversion report, and the hash-graded batch twin of
    streaming.windows.stream_stream_attribution's range join.

    Scale shape: ONE user_id exchange joins views to purchases (the
    horizon predicate bounds each user's pair fan-out by view density ×
    1 h — the same bound the streaming form's watermark state relies
    on); the per-purchase count window rides the join's partitioning;
    the lag aggregate is 3 rows."""
    from pyspark.sql import Window

    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events")
    us = epoch_of(events, "ts")
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), us("ts").alias("v_us")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us("ts").alias("p_us"),
        F.col("event_id").alias("p_id"),
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("total_micro"),
    )
    pairs = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("v_us") <= F.lit(3_600_000_000)),
    ).select("p_id", "total_micro", (F.col("p_us") - F.col("v_us")).alias("lag_us"))
    w_p = Window.partitionBy("p_id")
    credited = (
        pairs.withColumn("__n", F.count(F.lit(1)).over(w_p))
        .select(
            "p_id",
            "lag_us",
            F.expr("total_micro DIV __n").alias("credit_micro"),
        )
    )
    bucket = (
        F.when(F.col("lag_us") <= 300_000_000, "01_0_5m")
        .when(F.col("lag_us") <= 1_800_000_000, "02_5_30m")
        .otherwise("03_30_60m")
    )
    return (
        credited.groupBy(bucket.alias("lag_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("p_id").cast("long").alias("n_purchases"),
            F.sum("credit_micro").cast("long").alias("credit_micro"),
        )
        .orderBy("lag_bucket")
    )


@_q(
    "brand_supplier_hhi",
    """
    WITH bs AS (
      SELECT p_brand, l_suppkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                 * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), sh AS (
      SELECT p_brand, l_suppkey,
             (cents * 1000000)
               // SUM(cents) OVER (PARTITION BY p_brand) AS share_ppm
      FROM bs
    )
    SELECT p_brand, COUNT(*) AS n_suppliers,
           CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm,
           CAST(SUM(share_ppm * share_ppm // 1000000) AS BIGINT)
             AS hhi_micro
    FROM sh GROUP BY p_brand ORDER BY p_brand
    """,
)
def brand_supplier_hhi_q(spark, sf_dir):
    """Supplier market concentration per part brand: the Herfindahl-
    Hirschman index (Σ share², 1.0 = monopoly; antitrust flags >0.25)
    plus the top supplier's share — the supply-risk report. Exactness:
    revenue quantizes to integer cents per row (identical double op
    sequence), shares to ppm by integer division against the exact
    brand total, and each squared term floors at micro grain — every
    hashed number is a BIGINT. Scale shape: one partkey join (dim
    broadcastable, Spark decides), one (brand, supplier) exchange; the
    share window and final aggregate ride the brand partitioning over
    supplier-sized frames."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cents = F.expr(
        "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)"
        " AS BIGINT)"
    )
    bs = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w_b = Window.partitionBy("p_brand")
    sh = bs.withColumn("__t", F.sum("cents").over(w_b)).selectExpr(
        "p_brand",
        "l_suppkey",
        "(cents * 1000000) DIV __t AS share_ppm",
    )
    return (
        sh.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.max("share_ppm").cast("long").alias("top_share_ppm"),
            F.sum(F.expr("share_ppm * share_ppm DIV 1000000"))
            .cast("long")
            .alias("hhi_micro"),
        )
        .orderBy("p_brand")
    )


def _pagerank_oracle(iters: int) -> str:
    sql = """
    WITH e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), e AS (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM e GROUP BY src
    ), ed AS (
      SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)
    ), nodes AS (
      SELECT DISTINCT src AS id FROM e
    ), r0 AS (
      SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes
    )"""
    for i in range(iters):
        sql += f""", r{i + 1} AS (
      SELECT n.id,
             CAST(150000 + COALESCE(SUM(t.c), 0) AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT ed.dst, (85 * r.r) // (100 * ed.deg) AS c
        FROM ed JOIN r{i} r ON ed.src = r.id
      ) t ON t.dst = n.id
      GROUP BY n.id
    )"""
    sql += f"""
    SELECT id, r AS rank_micro FROM r{iters} ORDER BY id
    """
    return sql


@_q("graph_pagerank", _pagerank_oracle(10))
def graph_pagerank_q(spark, sf_dir):
    """Integer-exact PageRank (10 rounds, damping 0.85) over the
    symmetrized customer↔supplier trade graph — the canonical
    iterative Spark workload, hash-graded because the whole recursion
    runs in BIGINT micro-units ((85·r) DIV (100·deg) contributions —
    operators/graph.py pagerank_int); the oracle unrolls the same 10
    iterations as chained CTEs."""
    from iceberg_geospatial_api_server_spark.operators.graph import (
        pagerank_int,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # assume_symmetric: this entry BUILDS the symmetric union above, so
    # the sink-only guard's anti-join job is provably vacuous here
    return pagerank_int(edges, iters=10, assume_symmetric=True).orderBy(
        "id"
    )


@_q(
    "graph_triangles",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 2 = 0 AND b.l_partkey % 2 = 0
    ),
    nodes AS (SELECT u AS id FROM pe UNION ALL SELECT v FROM pe),
    deg AS (SELECT id, COUNT(*) AS d FROM nodes GROUP BY 1),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) AS BIGINT) AS deg_sum,
             CAST(SUM(d * (d - 1)) AS BIGINT) AS wedges2
      FROM deg
    ),
    orient AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pe.u < pe.v)
                  THEN pe.u ELSE pe.v END AS a,
             CASE WHEN da.d < db.d OR (da.d = db.d AND pe.u < pe.v)
                  THEN pe.v ELSE pe.u END AS b
      FROM pe JOIN deg da ON da.id = pe.u JOIN deg db ON db.id = pe.v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM orient e1
      JOIN orient e2 ON e1.b = e2.a
      JOIN orient e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT n_nodes, deg_sum // 2 AS n_edges, wedges2 // 2 AS n_wedges,
           n_triangles,
           CASE WHEN wedges2 > 0
                THEN (6 * n_triangles * 1000000) // wedges2
                ELSE 0 END AS clustering_ppm
    FROM base, tri
    """,
)
def graph_triangles_q(spark, sf_dir):
    """Exact triangle census + global clustering coefficient over the
    part co-purchase graph (parts sharing an order) — the second
    canonical distributed-graph workload, hash-graded: the
    DEGREE-ORIENTED edge join counts each triangle once with the wedge
    stream bounded O(m^1.5), wedges come from the degree frame, the
    coefficient reports in exact ppm. Edge construction fan-out is
    bounded by order SIZE (≤7 items), never quadratic in lineitems.
    Graded on the deterministic even-partkey subgraph: the full sf0.1
    graph's census belongs in the 32g bench session, not the driver's
    default-heap protocol session — the machinery is identical
    (operators/graph.py triangle_stats)."""
    from iceberg_geospatial_api_server_spark.operators.graph import (
        triangle_stats,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 2 == 0)
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return triangle_stats(edges)


@_q(
    "graph_common_neighbors",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % 4 = 0 AND l_quantity >= 25
    ),
    pe AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (SELECT u AS c, v AS n FROM pe
            UNION ALL SELECT v AS c, u AS n FROM pe),
    deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    cn AS (
      SELECT a.n AS x, b.n AS z, CAST(COUNT(*) AS BIGINT) AS cn
      FROM adj a JOIN adj b ON a.c = b.c AND a.n < b.n
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    nonadj AS (
      SELECT cn.x, cn.z, cn.cn FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM pe
                        WHERE pe.u = cn.x AND pe.v = cn.z)
    ),
    scored AS (
      SELECT x, z, cn,
             CAST((cn * 1000000) // (dx.d + dz.d - cn) AS BIGINT)
               AS jaccard_ppm
      FROM nonadj JOIN deg dx ON dx.c = nonadj.x
                  JOIN deg dz ON dz.c = nonadj.z
    )
    SELECT x, z, cn, jaccard_ppm FROM scored
    ORDER BY jaccard_ppm DESC, cn DESC, x, z LIMIT 25
    """,
)
def graph_common_neighbors_q(spark, sf_dir):
    """Link prediction over the part co-purchase graph — the third
    canonical graph workload next to PageRank and the triangle census:
    top-25 NOT-yet-connected part pairs by common-neighbor count +
    Jaccard neighbor similarity (Liben-Nowell & Kleinberg 2003), the
    recommendation primitive ("parts bought alongside the same parts").
    Hash-graded end-to-end: one center-keyed equi-join enumerates each
    (pair, witness) once, exact BIGINT counts, ppm Jaccard via integer
    DIV, totally-tiebroken top-k. Graded on the sparser
    partkey%4 ∧ qty≥25 subgraph (20.6k edges, 180k wedges, dmax 25 at
    sf0.1): exact CN's wedge stream is inherently Σd² — hub-center
    capping is the production knob (operators/graph.py
    common_neighbor_pairs, center_degree_cap)."""
    from iceberg_geospatial_api_server_spark.operators.graph import (
        common_neighbor_pairs,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_partkey") % 4 == 0) & (F.col("l_quantity") >= 25)
        )
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return common_neighbor_pairs(edges, k=25, min_cn=2)


@_q(
    "lineitem_key_skew",
    """
    WITH c AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             quantile_cont(cnt, 0.5) AS p50_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c
    ),
    t AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rn
      FROM c
    )
    SELECT CAST(t.rn AS INT) AS rank, t.key AS key, t.cnt AS cnt,
           CAST((t.cnt * 1000000) // s.n_rows AS BIGINT) AS share_ppm,
           s.n_keys, s.n_rows, s.p50_cnt, s.p99_cnt, s.max_cnt
    FROM t, s WHERE t.rn <= 10
    """,
)
def lineitem_key_skew_q(spark, sf_dir):
    """Join-key skew profile (late r7 — the MEASUREMENT half of the H
    skew story: the diagnostic a data engineer runs BEFORE reaching for
    `salted_topk_per_key`/AQE): per-key count distribution over
    l_partkey — top-10 hottest keys with exact ppm share plus n_keys /
    n_rows / R-7 p50+p99 / max. One key exchange, TakeOrderedAndProject
    top-k (never a global sort or a key-frame-sized single-partition
    window), summary as a 1-row broadcast
    (operators/skew.py key_skew_profile)."""
    from iceberg_geospatial_api_server_spark.operators.skew import (
        key_skew_profile,
    )

    return key_skew_profile(
        _t(spark, sf_dir, "lineitem"), "l_partkey", k=10
    )


def _zorder_oracle() -> str:
    # independent re-derivation of the Morton interleave: bit b of each
    # quantized coordinate extracted by integer DIV/MOD (no shift
    # functions — portable text on both engines) and placed at output
    # position 2b (x) / 2b+1 (y), exactly zorder_key's b·n_cols+i rule
    terms = []
    for b in range(16):
        terms.append(f"((qx // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((qy // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    z = " + ".join(terms)
    return f"""
    WITH p AS (SELECT x, y FROM {_LI_PTS} pts),
    b AS (SELECT MIN(x) AS mnx, MAX(x) AS mxx,
                 MIN(y) AS mny, MAX(y) AS mxy FROM p),
    q AS (
      SELECT
        CASE WHEN mxx <= mnx THEN 0 ELSE
          LEAST(GREATEST(CAST(FLOOR((x - mnx) / (mxx - mnx) * 65535)
                              AS BIGINT), 0), 65535) END AS qx,
        CASE WHEN mxy <= mny THEN 0 ELSE
          LEAST(GREATEST(CAST(FLOOR((y - mny) / (mxy - mny) * 65535)
                              AS BIGINT), 0), 65535) END AS qy
      FROM p, b
    ),
    zk AS (SELECT {z} AS z FROM q)
    SELECT z // 16777216 AS z_byte,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(z) AS BIGINT) AS z_sum,
           CAST(MIN(z) AS BIGINT) AS z_min,
           CAST(MAX(z) AS BIGINT) AS z_max
    FROM zk GROUP BY 1
    """


@_q("geo_zorder_keys", _zorder_oracle())
def geo_zorder_keys_q(spark, sf_dir):
    """The Z-ORDER clustering key machinery VALUE-graded (late r7 — the
    write-time layout decision behind sources/zorder.py's measured
    row-group pruning, until now pytest-only): the PRODUCTION _quantize
    (min/max grid scaling, truncating cast, clamp) and zorder_key
    (shiftleft-interleave) run over the lineitem points, and every
    32-bit Morton key must equal an independent DIV/MOD re-derivation
    in SQL — graded as per-top-byte census rows (count + exact BIGINT
    key sum/min/max), so a wrong bit position, clamp, or rounding in
    any key shifts a sum and breaks the hash. Bounds come from one
    1-row aggregate exactly as zorder_write computes them; the scaling
    chain is single IEEE ops (sub, div, mul) so both engines truncate
    the identical double."""
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )
    from iceberg_geospatial_api_server_spark.sources.zorder import (
        _quantize,
        zorder_key,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem")).select("x", "y")
    row = pts.agg(
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("y").alias("mny"),
        F.max("y").alias("mxy"),
    ).first()
    qx = _quantize(F.col("x"), row["mnx"], row["mxx"], 16)
    qy = _quantize(F.col("y"), row["mny"], row["mxy"], 16)
    z = zorder_key([qx, qy], 16)
    return (
        pts.select(z.alias("z"))
        .groupBy(F.expr("z DIV 16777216").alias("z_byte"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("z").alias("z_sum"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def _entropy_oracle() -> str:
    from iceberg_geospatial_api_server_spark.operators.text import (
        ENTROPY_STEPS,
    )

    sql = """
    WITH c AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ), a AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000.0
                                     + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS s_clnc
      FROM c
    )"""
    prev = "a"
    for i, (name, expr) in enumerate(ENTROPY_STEPS):
        sql += f", e{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"e{i}"
    sql += f"""
    SELECT n_tokens, n_types,
           ROUND(h_nats, 6) + 0.0 AS entropy_nats,
           ROUND(h_norm, 6) + 0.0 AS norm_entropy,
           CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micro
    FROM {prev}
    """
    return sql


@_q("corpus_entropy", _entropy_oracle())
def corpus_entropy_q(spark, sf_dir):
    """Corpus vocabulary entropy data card (exact ln-quantized integer
    sums, shared-text closing algebra — operators/text.py
    corpus_entropy)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        corpus_entropy,
    )

    return corpus_entropy(_t(spark, sf_dir, "documents"))


@_q(
    "data_quality_report",
    """
    WITH li AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
             CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0
                           OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
             CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_ship,
             CAST(SUM(CASE WHEN l_extendedprice IS NULL
                           OR l_extendedprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS bad_price_li
      FROM lineitem
    ), od AS (
      SELECT COUNT(*) AS n_o,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_cust
      FROM orders
    ), orp AS (
      SELECT COUNT(*) AS n_orphans FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    ), rules AS (
      SELECT 'lineitem_quantity_positive' AS rule_id,
             'lineitem' AS table_name, bad_qty AS n_failing,
             n AS n_total FROM li
      UNION ALL SELECT 'lineitem_discount_in_range', 'lineitem',
             bad_disc, n FROM li
      UNION ALL SELECT 'lineitem_shipdate_not_null', 'lineitem',
             null_ship, n FROM li
      UNION ALL SELECT 'lineitem_extendedprice_positive', 'lineitem',
             bad_price_li, n FROM li
      UNION ALL SELECT 'lineitem_orderkey_in_orders', 'lineitem',
             (SELECT n_orphans FROM orp), n FROM li
      UNION ALL SELECT 'orders_orderkey_unique', 'orders',
             n_o - n_keys, n_o FROM od
      UNION ALL SELECT 'orders_totalprice_positive', 'orders',
             bad_price, n_o FROM od
      UNION ALL SELECT 'orders_custkey_not_null', 'orders',
             null_cust, n_o FROM od
    )
    SELECT rule_id, table_name,
           CAST(n_failing AS BIGINT) AS n_failing,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(CASE WHEN n_failing = 0 THEN 1 ELSE 0 END AS INT)
             AS passed,
           CASE WHEN n_total > 0
                THEN CAST(n_failing * 1000000 // n_total AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS fail_micro
    FROM rules ORDER BY rule_id
    """,
)
def data_quality_q(spark, sf_dir):
    """Declarative expectation suite (null/range/uniqueness/referential
    rules, one aggregate pass per table + one anti join —
    operators/quality.py quality_report)."""
    from iceberg_geospatial_api_server_spark.operators.quality import (
        quality_report,
    )

    return quality_report(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


@_q(
    "orders_purchase_intervals",
    """
    WITH g AS (
      SELECT o_custkey,
             CAST(FLOOR((epoch_us(o_orderdate)
                         - epoch_us(lag(o_orderdate) OVER w))
                        / 86400000000) AS BIGINT) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), f AS (
      SELECT o_custkey, gap_days,
             CASE WHEN gap_days <= 7 THEN '01_within_week'
                  WHEN gap_days <= 30 THEN '02_within_month'
                  WHEN gap_days <= 90 THEN '03_within_quarter'
                  ELSE '04_longer' END AS bucket
      FROM g WHERE gap_days IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n_gaps,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)
                AS BIGINT) AS median_gap_days
    FROM f GROUP BY bucket ORDER BY bucket
    """,
)
def orders_purchase_intervals_q(spark, sf_dir):
    """Repeat-purchase cadence buckets with exact lower-median gaps
    (rank-⌈n/2⌉ percentile_disc semantics — operators/relational.py
    purchase_intervals)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        purchase_intervals,
    )

    return purchase_intervals(_t(spark, sf_dir, "orders"))


@_q(
    "text_ngram_novelty",
    """
    WITH corpus AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ex AS (
      SELECT doc_id,
             (('0x' || substr(md5(array_to_string(ws[u.i:u.i+2], ' ')),
                             1, 15))::BIGINT % 2147483647) AS h
      FROM corpus,
           UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) u(i)
    ), census AS (
      SELECT h, MIN(doc_id) AS first_doc
      FROM (SELECT DISTINCT h, doc_id FROM ex)
      GROUP BY h
    ), per_doc AS (
      SELECT e.doc_id,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN c.first_doc = e.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM ex e JOIN census c USING (h)
      GROUP BY e.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novelty_micro
    FROM per_doc ORDER BY doc_id
    """,
)
def text_ngram_novelty_q(spark, sf_dir):
    """Per-document trigram novelty in doc-id order: the fraction of a
    doc's gram OCCURRENCES whose gram first appears in that doc (the
    smallest-id convention) — the redundancy-growth curve a crawl's
    data card reports (novelty decays as the corpus saturates).
    (hash, doc)-keyed distinct before the census (boilerplate grams
    never funnel a reducer); integer micro-grain ratio."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        trigram_strings,
    )
    from iceberg_geospatial_api_server_spark.operators.dedup import word_hash

    docs = _t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.explode(trigram_strings(F.col("text"))).alias("__g"),
    ).select("doc_id", word_hash(F.col("__g")).alias("__h"))
    census = (
        ex.select("__h", "doc_id")
        .distinct()
        .groupBy("__h")
        .agg(F.min("doc_id").alias("__first"))
    )
    return (
        ex.join(census, "__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("CAST((n_novel * 1000000) DIV n_grams AS BIGINT)").alias(
                "novelty_micro"
            ),
        )
        .orderBy("doc_id")
    )


def _dedup_spans_oracle(n: int, min_docs: int) -> str:
    k = n - 1
    return f"""
    WITH corpus AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ex AS (
      SELECT doc_id, u.i - 1 AS pos,
             (('0x' || substr(md5(array_to_string(ws[u.i:u.i+{k}], ' ')),
                             1, 15))::BIGINT % 2147483647) AS h
      FROM corpus,
           UNNEST(generate_series(1, greatest(len(ws) - {k}, 0))) u(i)
    ), census AS (
      SELECT h, COUNT(*) AS nd, MIN(doc_id) AS keeper
      FROM (SELECT h, doc_id FROM ex GROUP BY h, doc_id)
      GROUP BY h
    ), hits AS (
      SELECT e.doc_id, e.pos
      FROM ex e JOIN census c ON e.h = c.h
      WHERE c.nd >= {min_docs} AND e.doc_id <> c.keeper
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {n}
                  THEN 1 ELSE 0 END AS b
      FROM hits
    ), isl AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS g
      FROM brk
    ), spans AS (
      SELECT doc_id, g, CAST(MIN(pos) AS BIGINT) AS lo,
             CAST(MAX(pos) + {k} AS BIGINT) AS hi
      FROM isl GROUP BY doc_id, g
    ), span_counts AS (
      SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
    ), toks AS (
      SELECT doc_id, u.i - 1 AS idx, ws[u.i] AS w
      FROM corpus, UNNEST(generate_series(1, len(ws))) u(i)
    ), masked AS (
      SELECT t.doc_id, t.idx,
             CASE WHEN s.lo IS NOT NULL THEN '<MASK>' ELSE t.w END AS w,
             CASE WHEN s.lo IS NOT NULL THEN 1 ELSE 0 END AS m
      FROM toks t LEFT JOIN spans s
        ON s.doc_id = t.doc_id AND t.idx BETWEEN s.lo AND s.hi
    )
    SELECT m.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(m.m) AS BIGINT) AS n_masked,
           CAST(COALESCE(MAX(sc.n_spans), 0) AS BIGINT) AS n_spans,
           md5(string_agg(m.w, ' ' ORDER BY m.idx)) AS scrubbed_md5
    FROM masked m LEFT JOIN span_counts sc ON m.doc_id = sc.doc_id
    GROUP BY m.doc_id ORDER BY m.doc_id
    """


@_q("dedup_spans_scrub", _dedup_spans_oracle(8, 2))
def dedup_spans_scrub_q(spark, sf_dir):
    """Span-level dedup MATERIALIZATION (the removal step of Lee et
    al.'s substring dedup): cross-doc duplicated 8-grams keep their
    smallest-doc occurrence and mask everywhere else; the oracle grades
    the reconstructed masked text md5 per document
    (operators/text.py dedup_spans_scrub over the shared
    _mask_hit_spans pipeline)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        dedup_spans_scrub,
    )

    return dedup_spans_scrub(
        _t(spark, sf_dir, "documents"), gram_tokens=8, min_docs=2
    )


@_q("mm_scene_cuts")  # rows-only: real PNG decode is engine-internal
def mm_scene_cuts_q(spark, sf_dir):
    """Shot-boundary detection over REAL decoded video frames: per-frame
    pHash (map-side, 8 bytes/frame leave the stage) → lag + threshold on
    one doc exchange; planted scene boundaries recovered exactly in
    tests/test_multimodal.py (operators/multimodal.py scene_cuts)."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        scene_cuts,
        synthesize_frame_corpus,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").limit(40)
    frames = synthesize_frame_corpus(docs, n_frames=24, scene_every=8)
    return scene_cuts(frames, hamming_threshold=16)


@_q(
    "mm_scene_cuts_parity",
    """
    SELECT doc_id,
           CAST(24 AS BIGINT) AS n_frames,
           CAST(23 // (6 + doc_id % 5) AS BIGINT) AS n_cuts,
           CAST(6 + doc_id % 5 AS INT) AS first_cut
    FROM documents WHERE doc_id < 40 ORDER BY doc_id
    """,
)
def mm_scene_cuts_parity_q(spark, sf_dir):
    """Shot-boundary DETECTION value-graded (the planted-truth oracle
    form of mm_scene_cuts): each doc's frame sequence plants scene
    boundaries at the PER-DOC period 6 + doc_id % 5, so the expected
    cut count and first-cut frame are closed-form integer arithmetic —
    the real PNG encode → decode → DCT pHash → lag + Hamming-threshold
    pipeline must recover exactly ⌊23/period⌋ cuts with the first at
    `period` for every document. The Hamming-mean diagnostics stay on
    the rows-only sibling (jitter-dependent DCT values are
    deterministic but not SQL-expressible); this entry grades the
    DECISIONS, which are."""
    from iceberg_geospatial_api_server_spark.operators.multimodal import (
        scene_cuts,
        synthesize_frame_corpus,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    frames = synthesize_frame_corpus(docs, n_frames=24, scene_every=None)
    return scene_cuts(frames, hamming_threshold=16).select(
        "doc_id", "n_frames", "n_cuts", "first_cut"
    )


@_q("ann_ivfpq_topk")  # rows-only: approximate by design (recall tested)
def ann_ivfpq_q(spark, sf_dir):
    """IVF-PQ: inverted lists bound what's scored, 8-byte PQ codes bound
    what's read (32× scan-mass cut at dim=64), exact re-rank on the
    shortlist."""
    from iceberg_geospatial_api_server_spark.operators.ann import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 101, 202, 303, 404)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return ivfpq_topk(emb, queries_df, k=10, nlist=8, nprobe=4)


# ===========================================================================
# Web-map binning: XYZ slippy tiles + HexagonLayer hexes (geo/tiles.py)
# ===========================================================================

from iceberg_geospatial_api_server_spark.geo.tiles import (  # noqa: E402
    hex_oracle_cte as _hex_oracle_cte,
    tile_expr_sql as _tile_expr_sql,
)

_TILE_X4, _TILE_Y4 = _tile_expr_sql("x", "y", 4)


@_q(
    "geo_tile_aggregate",
    f"""
    SELECT {_TILE_X4} AS tile_x, {_TILE_Y4} AS tile_y,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM {_LI_PTS} p
    GROUP BY 1, 2
    """,
)
def geo_tile_aggregate_q(spark, sf_dir):
    """XYZ (slippy-map) tile binning at zoom 4 — the tiled form of the
    reference's mode=aggregate grid binning (ref api/main.py:410-443; OSM
    tile scheme). Bin assignment is shared Spark/DuckDB expression text
    (geo/tiles.py tile_expr_sql), so integer tile ids hash-match exactly;
    one uniform hash exchange aggregates."""
    from iceberg_geospatial_api_server_spark.geo.tiles import tile_aggregate
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return tile_aggregate(
        pts,
        "x",
        "y",
        4,
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        ],
    )


def _tile_pyramid_oracle(zmax: int) -> str:
    """Direct per-level binning — the pyramid rollup must equal it
    exactly (parent = child DIV 2 is IEEE-identical to direct floor at
    the coarser zoom because n_z doubles per level)."""
    parts = []
    for z in range(0, zmax + 1):
        tx, ty = _tile_expr_sql("x", "y", z)
        parts.append(
            f"SELECT CAST({z} AS INT) AS zoom, {tx} AS tile_x,"
            f" {ty} AS tile_y, COUNT(*) AS n,"
            f" ROUND(SUM(l_quantity), 2) AS sum_qty"
            f" FROM {_LI_PTS} p GROUP BY 1, 2, 3"
        )
    return " UNION ALL ".join(parts)


@_q("geo_tile_pyramid", _tile_pyramid_oracle(6))
def geo_tile_pyramid_q(spark, sf_dir):
    """Full tile pyramid z0..z6 in one corpus pass: bin once at z6, roll
    parents up from children (each rollup exchange is level-sized, 4^z
    max, shrinking geometrically). The oracle re-bins DIRECTLY at every
    zoom, so the hash grades the rollup ≡ direct-binning equivalence —
    the property that makes bottom-up pyramid builds valid at all."""
    from iceberg_geospatial_api_server_spark.geo.tiles import tile_pyramid
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    out = tile_pyramid(pts, "x", "y", zmax=6, zmin=0, value_col="l_quantity")
    return out.select(
        "zoom",
        "tile_x",
        "tile_y",
        "n",
        F.round("sum_val", 2).alias("sum_qty"),
    )


_HEX_CTE = _hex_oracle_cte(f"SELECT x, y FROM {_LI_PTS} p", "x", "y", 5.0)


@_q(
    "geo_hex_aggregate",
    f"""
    WITH hexed AS ({_HEX_CTE})
    SELECT hex_q, hex_r, hex_cx, hex_cy, COUNT(*) AS n
    FROM hexed GROUP BY 1, 2, 3, 4
    """,
)
def geo_hex_aggregate_q(spark, sf_dir):
    """Hexagon binning (deck.gl HexagonLayer server-side analog):
    pointy-top axial assignment with cube rounding, every step shared
    expression text between the Spark withColumn chain and the oracle's
    chained CTEs (geo/tiles.py hex_steps_sql) — bin ids AND float hex
    centers hash-match with no tolerance. Map-side assignment, one
    uniform (hex_q, hex_r) exchange."""
    from iceberg_geospatial_api_server_spark.geo.tiles import hex_aggregate
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return hex_aggregate(pts, "x", "y", 5.0)


# ===========================================================================
# Sequential event analytics: CUSUM change points + hopping windows
# ===========================================================================


_CUSUM_ORACLE = """
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) - 6000 AS d
      FROM events
    ), p AS (
      SELECT user_id, event_id, ts, SUM(d) OVER w AS p
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), s AS (
      SELECT user_id, ts,
             p - LEAST(0, MIN(p) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)) AS s
      FROM p
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN s > 50000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           CAST(MAX(s) AS BIGINT) AS max_cusum,
           CAST(FLOOR(epoch_us(MIN(CASE WHEN s > 50000 THEN ts END))
                      / 1000000) AS BIGINT) AS first_alarm_s
    FROM s GROUP BY user_id ORDER BY user_id
    """


@_q("events_cusum", _CUSUM_ORACLE)
def events_cusum_q(spark, sf_dir):
    """Per-user CUSUM drift detection. The max(0, ...) recursion is
    closed-formed into prefix-sum minus running-min — two stacked windows
    on ONE user exchange — and sums run in integer cents, so the oracle
    hash covers the full recursion math exactly (DuckDB's segment-tree
    window SUM would diverge on doubles)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_cusum,
    )

    return events_cusum(_t(spark, sf_dir, "events"), drift=60.0, threshold=500.0)


@_q("streaming_cusum_state", _CUSUM_ORACLE)
def streaming_cusum_state_q(spark, sf_dir):
    """The STREAMING machinery under the driver's hash oracle (VERDICT r4
    item 6): the corpus is split at its median timestamp into two parquet
    files (mtimes pinned so the file source replays them in order), a
    REAL Structured Streaming query (file source → applyInPandasWithState
    CUSUM → memory sink, two micro-batches) runs to completion, and each
    user's FINAL state row must equal the batch events_cusum oracle —
    stream ≡ batch graded externally, not just pytest-asserted. State is
    5 longs per user; nothing here is batch-mode fallback."""
    import shutil
    import tempfile
    import uuid

    from iceberg_geospatial_api_server_spark.streaming.stateful import (
        streaming_cusum,
    )
    from iceberg_geospatial_api_server_spark.streaming.windows import (
        read_event_stream,
        run_to_memory_sink,
        write_ts_split_stream_files,
    )

    events = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cusum_stream_")
    try:
        path = os.path.join(base, "events")
        write_ts_split_stream_files(spark, events, path)
        name = f"cusum_state_{uuid.uuid4().hex}"
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        run_to_memory_sink(
            streaming_cusum(stream, drift=60.0, threshold=500.0),
            name,
            mode="update",
        )
        final = spark.sql(
            f"""SELECT user_id, n_events, n_alarms, max_cusum, first_alarm_s
                FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                                   ORDER BY n_events DESC) rn
                      FROM {name}) WHERE rn = 1"""
        )
        # materialize the users-sized final state and DROP the memory
        # sink table: repeated entry runs in one long grading session
        # must not accumulate uuid-named in-memory result sets
        rows, schema = final.collect(), final.schema
        spark.catalog.dropTempView(name)
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "streaming_window_counts",
    """
    SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600 AS BIGINT)
             AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_window_counts_q(spark, sf_dir):
    """The CORE streaming operator — watermarked tumbling-window
    aggregation — under the driver's hash oracle: a real two-micro-batch
    file stream aggregates hourly (type, count, integer-cents sum) in
    complete mode; the final emitted table must equal the batch GROUP BY.
    Value sums quantize to cents BEFORE the stateful accumulation, so
    cross-batch state merge order cannot move a double (the
    events_cusum convention)."""
    import shutil
    import tempfile
    import uuid

    from iceberg_geospatial_api_server_spark.streaming.windows import (
        read_event_stream,
        run_to_memory_sink,
        write_ts_split_stream_files,
    )
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="winagg_stream_")
    try:
        path = os.path.join(base, "events")
        write_ts_split_stream_files(spark, events, path)
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        cents = F.floor(
            F.col("value") * F.lit(100.0) + F.lit(0.5)
        ).cast("long")
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(
                F.window("ts", "60 minutes").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(cents).alias("sum_cents"),
            )
            .select(
                F.col("w.start").alias("hour_start"),
                "event_type",
                "n_events",
                F.col("sum_cents").cast("long").alias("sum_cents"),
            )
        )
        name = f"win_counts_{uuid.uuid4().hex}"
        run_to_memory_sink(agg, name, mode="complete")
        out = spark.table(name)
        sec = epoch_of(out, "hour_start")
        final = out.select(
            sec("hour_start", "SECOND").cast("long").alias(
                "window_start_s"
            ),
            "event_type",
            "n_events",
            "sum_cents",
        ).orderBy("window_start_s", "event_type")
        # materialize the hours×types-sized result and DROP the memory
        # sink table (see streaming_cusum_state)
        rows, schema = final.collect(), final.schema
        spark.catalog.dropTempView(name)
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "streaming_dedup_state",
    "SELECT DISTINCT user_id, event_type FROM events"
    " WHERE ts IS NOT NULL",
)
def streaming_dedup_state_q(spark, sf_dir):
    """STREAMING DEDUPLICATION under the driver's hash oracle (late r7
    — the fourth driver-graded streaming entry; window agg, stateful
    CUSUM, and the stream-stream join are graded, this closes the core
    stateful-operator set with the dedup state store): the shared
    two-micro-batch file stream runs through
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type), and the
    emitted key set must equal the batch SELECT DISTINCT. The watermark
    delay (960 h) exceeds the corpus' 30-day span, so no state evicts
    mid-stream and the streamed set is PROVABLY the exact distinct —
    the production bounded-state behavior (late re-emission after
    eviction) is the documented semantic difference, pytest-covered in
    tests/test_streaming.py's planted-duplicate case. Emitted columns
    are the key columns only, so which physical duplicate won each
    key's race is invisible to the hash. NULL-ts rows are excluded on
    BOTH sides: the ts-split fixture writer's `<= cut` / `> cut`
    predicates drop them from the stream, and event-time dedup on a
    NULL watermark column is undefined anyway (review finding —
    mirrored guard, the events_theta_retention convention)."""
    import shutil
    import tempfile
    import uuid

    from iceberg_geospatial_api_server_spark.streaming.windows import (
        read_event_stream,
        run_to_memory_sink,
        write_ts_split_stream_files,
    )

    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    base = tempfile.mkdtemp(prefix="dedup_stream_")
    try:
        path = os.path.join(base, "events")
        write_ts_split_stream_files(spark, events, path)
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        kept = (
            stream.withWatermark("ts", "960 hours")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        name = f"dedup_state_{uuid.uuid4().hex}"
        run_to_memory_sink(kept, name, mode="append")
        final = spark.table(name).select("user_id", "event_type")
        # materialize the keys-sized result and DROP the memory sink
        # table (see streaming_cusum_state)
        rows, schema = final.collect(), final.schema
        spark.catalog.dropTempView(name)
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "streaming_scd2_cdc",
    """
    WITH cl AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_type) AS attr
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), dd AS (
      SELECT user_id, ts_us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS prev
      FROM cl
    ), kept AS (
      SELECT user_id, ts_us, attr FROM dd
      WHERE prev IS NULL OR attr <> prev
    ), dim AS (
      SELECT user_id, attr, ts_us AS eff_from_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS eff_to_us,
             LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               IS NULL AS is_current
      FROM kept
    )
    SELECT user_id, attr, eff_from_us, eff_to_us, is_current,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY eff_from_us) AS BIGINT) AS version_seq
    FROM dim
    """,
)
def streaming_scd2_cdc_q(spark, sf_dir):
    """The STREAMING CDC→SCD2 upsert sink under the driver's hash
    oracle (r9 — the fifth driver-graded streaming entry, and the
    first to grade a foreachBatch MERGE sink rather than an in-stream
    operator; it composes three r8/r9-graded pieces into the real
    lakehouse CDC loop): the shared two-micro-batch file stream drives
    ``scd2_cdc_stream`` — per micro-batch the changes normalize,
    ``scd2_merge`` applies them incrementally (batch-sized compute,
    in-plan append-order guard live), and ONE immutable versioned
    snapshot commits with the epoch id as its replay-dedup batch_ref
    (exactly-once). The final dimension read back from the versioned
    table must equal the one-shot batch rebuild the SQL oracle
    computes from the raw events — stream ≡ batch, end-to-end through
    the sink, the store, AND the read path. Carrier rows add a per-key
    `version_seq` so the effective-dating order itself is hashed. The
    entry also RAISES unless exactly two snapshots committed (the
    fixture's two triggers — a silently-coalesced or replayed-and-
    duplicated batch would change the count). Replay idempotency and
    the stream≡batch equivalence on crafted splits are pytest-pinned
    (tests/test_streaming.py)
    (streaming/windows.py scd2_cdc_stream; ref api/main.py:492-604 —
    the MERGE INTO surface this keeps runnable jar-less)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )
    from iceberg_geospatial_api_server_spark.streaming.windows import (
        read_event_stream,
        scd2_cdc_stream,
        write_ts_split_stream_files,
    )

    events = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    base = tempfile.mkdtemp(prefix="scd2_cdc_stream_")
    try:
        path = os.path.join(base, "events")
        write_ts_split_stream_files(spark, events, path)
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        table = os.path.join(base, "dim")
        q = scd2_cdc_stream(
            stream, table, checkpoint=os.path.join(base, "ckpt")
        ).start()
        q.awaitTermination()
        vt = VersionedTable(spark, table)
        n_snaps = vt.history().count()
        if n_snaps != 2:
            raise RuntimeError(
                f"streaming_scd2_cdc: expected exactly 2 snapshots "
                f"(one per micro-batch), found {n_snaps} — the sink "
                "coalesced or duplicated a batch"
            )
        final = vt.read()
        w = Window.partitionBy("user_id").orderBy("eff_from_us")
        out = final.select(
            "user_id",
            "attr",
            "eff_from_us",
            "eff_to_us",
            "is_current",
            F.row_number().over(w).cast("long").alias("version_seq"),
        )
        # materialize before the scratch dir is removed (the memory-
        # sink entries' convention: the returned frame must not depend
        # on files the finally-block deletes)
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "streaming_attribution_pairs",
    """
    SELECT t.user_id,
           t.event_id AS trigger_id,
           o.event_id AS outcome_id,
           CAST(FLOOR(o.value * 100.0 + 0.5) AS BIGINT) AS outcome_cents
    FROM events t JOIN events o
      ON t.user_id = o.user_id
     AND t.event_type = 'view' AND o.event_type = 'purchase'
     AND o.ts >= t.ts AND o.ts <= t.ts + INTERVAL 1 HOUR
    ORDER BY trigger_id, outcome_id
    """,
)
def streaming_attribution_pairs_q(spark, sf_dir):
    """The watermarked STREAM-STREAM range join under the driver's hash
    oracle (r7 — the third driver-graded streaming entry, and the first
    to grade a two-sided stateful join rather than an aggregation): a
    real two-micro-batch file stream self-joins view→purchase pairs
    within a 1-hour horizon (streaming.windows.stream_stream_attribution
    — the click-attribution shape whose range bound is what makes the
    join runnable continuously at 100 TB), and the emitted pair set
    must equal the batch range join the oracle evaluates in SQL.

    Why the streamed pair set is EXACTLY the batch join: inner
    stream-stream matches emit in the micro-batch where the second side
    arrives (no watermark finalization wait), and state eviction cannot
    lose a future match — after micro-batch 1 (ts ≤ cut) the watermark
    stands at cut − 2h, which evicts only triggers older than cut − 3h,
    while any cross-batch match needs its trigger within 1h of a
    post-cut outcome (≥ cut − 1h). Emitted columns are key/value-derived
    only (ids + pre-quantized cents), so within-batch row order cannot
    move the hash."""
    import shutil
    import tempfile
    import uuid

    from iceberg_geospatial_api_server_spark.streaming.windows import (
        read_event_stream,
        run_to_memory_sink,
        stream_stream_attribution,
        write_ts_split_stream_files,
    )

    events = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="attr_stream_")
    try:
        path = os.path.join(base, "events")
        write_ts_split_stream_files(spark, events, path)
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        pairs = stream_stream_attribution(
            stream,
            trigger_type="view",
            outcome_type="purchase",
            horizon="1 hour",
            watermark="2 hours",
        ).select(
            "user_id",
            "trigger_id",
            "outcome_id",
            F.floor(F.col("outcome_value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("outcome_cents"),
        )
        name = f"attr_pairs_{uuid.uuid4().hex}"
        run_to_memory_sink(pairs, name, mode="append")
        out = spark.table(name)
        final = out.orderBy("trigger_id", "outcome_id")
        # materialize the pair-sized result and DROP the memory sink
        # table (the streaming_cusum_state convention)
        rows, schema = final.collect(), final.schema
        spark.catalog.dropTempView(name)
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "events_hopping_agg",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT) AS sec
      FROM events
    ), x AS (
      SELECT e.*, (FLOOR(sec / 3600) - j.j) * 3600 AS window_start
      FROM e CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS j) j
    )
    SELECT CAST(window_start AS BIGINT) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           COUNT(DISTINCT user_id) AS n_users
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hopping_q(spark, sf_dir):
    """Hopping-window aggregation (4 h windows every 1 h): map-side
    sequence-explode of the 4 window offsets, one hash exchange — the
    batch twin of streaming window(ts, '4 hours', '1 hour')."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_hopping_agg,
    )

    return events_hopping_agg(
        _t(spark, sf_dir, "events"), size_minutes=240, hop_minutes=60
    )


@_q(
    "geo_heatmap",
    """
    WITH s AS (
      SELECT x / CAST(10.0 AS DOUBLE) AS fx, y / CAST(10.0 AS DOUBLE) AS fy,
             FLOOR(x / CAST(10.0 AS DOUBLE)) AS gx0,
             FLOOR(y / CAST(10.0 AS DOUBLE)) AS gy0
      FROM (SELECT (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                   (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
            FROM lineitem) p
    ), e AS (
      SELECT gx0 + dx.j AS gx, gy0 + dy.k AS gy,
             CAST(FLOOR(EXP((-((fx - (gx0 + dx.j + 0.5)) * (fx - (gx0 + dx.j + 0.5))
                             + (fy - (gy0 + dy.k + 0.5)) * (fy - (gy0 + dy.k + 0.5))))
                            * CAST(0.5 AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
      FROM s, UNNEST(generate_series(-2, 2)) dx(j),
              UNNEST(generate_series(-2, 2)) dy(k)
    )
    SELECT * FROM (
      SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
             CAST(SUM(w) AS BIGINT) AS heat, COUNT(*) AS n_splats
      FROM e GROUP BY 1, 2
    ) WHERE heat > 0
    """,
)
def geo_heatmap_q(spark, sf_dir):
    """Gaussian KDE heat grid (deck.gl HeatmapLayer server-side analog):
    constant 5×5 map-side splat fan-out, integer-quantized kernel
    weights (FLOOR(exp·1e6) BEFORE summation — the corpus_perplexity
    pattern, so cell totals are exact integer sums on any partitioning),
    one uniform grid exchange (geo/tiles.py heatmap_grid)."""
    from iceberg_geospatial_api_server_spark.geo.tiles import heatmap_grid
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return heatmap_grid(pts, "x", "y", cell=10.0, sigma_cells=1.0, reach=2)


@_q(
    "events_transitions",
    """
    WITH t AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type,
             COUNT(*) AS n_trans
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
           CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)
             AS row_total,
           CAST((n_trans * 1000000) // SUM(n_trans) OVER (PARTITION BY prev_type)
                AS BIGINT) AS p_micro
    FROM c ORDER BY prev_type, next_type
    """,
)
def events_transitions_q(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    lag on one user exchange, |types|²-row aggregate, integer-grain
    conditional probabilities ((n·1e6) DIV row_total — exact on both
    engines)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_transitions,
    )

    return events_transitions(_t(spark, sf_dir, "events"))


# shared winnowing CTE prefix (k=3, w=4): gram hashes → per-window
# packed rightmost-min selections — reused by the fingerprint-summary
# and the pair-generation oracles
_WINNOW_WMIN_CTE = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), docg AS (
      SELECT doc_id, greatest(len(ws) - 2, 0) AS m, ws FROM d
    ), grams AS (
      SELECT doc_id, m, u.i - 1 AS pos,
             (('0x' || substr(md5(array_to_string(ws[u.i:u.i+2], ' ')),
                             1, 15))::BIGINT % 2147483647) AS h
      FROM docg, UNNEST(generate_series(1, m)) AS u(i)
    ), fan AS (
      SELECT doc_id, m, pos, h, v.j AS j
      FROM grams,
           UNNEST(generate_series(greatest(pos - 3, 0),
                                  least(pos, greatest(m - 3, 1) - 1)))
             AS v(j)
    ), wmin AS (
      SELECT doc_id, j,
             MIN(h * 4294967296 + (4294967295 - pos)) AS sel,
             MAX(m) AS m
      FROM fan GROUP BY doc_id, j
    )
"""


@_q(
    "text_winnow_fingerprints",
    _WINNOW_WMIN_CTE
    + """
    SELECT doc_id,
           CAST(MAX(m) AS BIGINT) AS n_grams,
           CAST(GREATEST(MAX(m) - 3, 1) AS BIGINT) AS n_windows,
           COUNT(DISTINCT sel) AS n_fingerprints,
           COUNT(DISTINCT sel // 4294967296) AS n_distinct_hashes,
           CAST(MIN(sel) // 4294967296 AS BIGINT) AS min_fp
    FROM wmin GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_winnow_q(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection, k=3-gram / w=4 windows:
    per-window rightmost-min selection runs as one packed-BIGINT MIN
    (integer-exact on both engines), so the driver hash grades the full
    selection rule — window fan-out, tie-breaking, dedup of selections —
    value-for-value (operators/text.py winnow_fingerprints)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, w=4)


@_q(
    "text_winnow_pairs",
    _WINNOW_WMIN_CTE
    + """
    , fps AS (
      SELECT DISTINCT doc_id, CAST(sel // 4294967296 AS BIGINT) AS fp_hash
      FROM wmin
    ), sizes AS (
      SELECT fp_hash, COUNT(*) AS bs FROM fps GROUP BY fp_hash
    ), elig AS (
      SELECT f.doc_id, f.fp_hash
      FROM fps f JOIN sizes USING (fp_hash) WHERE bs <= 50
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
    FROM elig a JOIN elig b
      ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY 1, 2
    """,
)
def text_winnow_pairs_q(spark, sf_dir):
    """MOSS's document-comparison step: pairs ranked by shared winnowing
    fingerprints, bucketed on the fingerprint hash (minhash-LSH shape:
    hash equi-join, hot buckets dropped at O(bucket) cost). Fully
    deterministic, so — unlike minhash — the ENTIRE candidate
    generation hash-grades against the oracle with no recall argument
    (operators/text.py winnow_pairs)."""
    from iceberg_geospatial_api_server_spark.operators.text import (
        winnow_pairs,
    )

    return winnow_pairs(
        _t(spark, sf_dir, "documents"),
        k=3,
        w=4,
        min_shared=2,
        max_bucket_size=50,
    )


@_q(
    "geo_knn_join",
    """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey * 37 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (s_suppkey * 53 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM supplier
    ), c AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    )
    SELECT s_suppkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                   ORDER BY nn_dist, nn_c_custkey) AS INT)
             AS nn_rank,
           nn_c_custkey,
           ROUND(nn_dist, 6) AS nn_dist
    FROM (
      SELECT s.s_suppkey, t.nn_c_custkey, t.nn_dist
      FROM s, LATERAL (
        SELECT c.c_custkey AS nn_c_custkey,
               SQRT((s.x - c.x) * (s.x - c.x)
                    + (s.y - c.y) * (s.y - c.y)) AS nn_dist
        FROM c
        ORDER BY nn_dist, c.c_custkey LIMIT 3
      ) t
    )
    ORDER BY s_suppkey, nn_rank
    """,
)
def geo_knn_join_q(spark, sf_dir):
    """kNN JOIN (k=3): every supplier's 3 nearest customers, ranked —
    the k>1 LATERAL the reference cookbook runs (§2.8) and Spark lacks
    natively. Broadcast numpy argpartition per Arrow batch (no join, no
    pair materialization); tie-break matches ROW_NUMBER(dist, custkey)
    because distances are bit-equal IEEE on both engines
    (geo/functions.py knn_join_broadcast)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        knn_join_broadcast,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        supplier_points,
    )

    supp = supplier_points(_t(spark, sf_dir, "supplier"))
    cust = customer_points(_t(spark, sf_dir, "customer"))
    out = knn_join_broadcast(
        supp, cust, "s_suppkey", "x", "y", "x", "y", ["c_custkey"], k=3
    )
    return out.select(
        "s_suppkey",
        "nn_rank",
        "nn_c_custkey",
        F.round("nn_dist", 6).alias("nn_dist"),
    )


@_q(
    "geo_knn_join_grid",
    """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey * 37 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (s_suppkey * 53 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM supplier
    ), c AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    )
    SELECT s_suppkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                   ORDER BY nn_dist, nn_c_custkey) AS INT)
             AS nn_rank,
           nn_c_custkey,
           ROUND(nn_dist, 6) AS nn_dist
    FROM (
      SELECT s.s_suppkey, t.nn_c_custkey, t.nn_dist
      FROM s, LATERAL (
        SELECT c.c_custkey AS nn_c_custkey,
               SQRT((s.x - c.x) * (s.x - c.x)
                    + (s.y - c.y) * (s.y - c.y)) AS nn_dist
        FROM c
        ORDER BY nn_dist, c.c_custkey LIMIT 3
      ) t
    )
    ORDER BY s_suppkey, nn_rank
    """,
)
def geo_knn_join_grid_q(spark, sf_dir):
    """The FACT-SCALE kNN join (VERDICT r5 item 4): grid-cell candidate
    generation + per-row top-k + expanding (doubling) search ring —
    the variant knn_join_broadcast's docstring promises for fact×fact
    inputs, where neither side may collect or broadcast. Same inputs
    and the SAME brute-force LATERAL oracle as geo_knn_join, so the
    driver grades that the distributed ring search reproduces the
    exact (dist, custkey)-ranked neighbors the broadcast kernel finds
    (geo/functions.py knn_join_grid; cell join is equi-join on cell
    keys — cartesian-free, plan-asserted in tests/test_plans.py)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        knn_join_grid,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        supplier_points,
    )

    supp = supplier_points(_t(spark, sf_dir, "supplier"))
    cust = customer_points(_t(spark, sf_dir, "customer"))
    out = knn_join_grid(
        supp, cust, "s_suppkey", "x", "y", "x", "y", ["c_custkey"], k=3
    )
    return out.select(
        "s_suppkey",
        "nn_rank",
        "nn_c_custkey",
        F.round("nn_dist", 6).alias("nn_dist"),
    )


@_q(
    "events_rfm",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    ), rec AS (
      SELECT user_id, frequency, monetary_cents,
             CAST(FLOOR((MAX(last_us) OVER () - last_us) / 1000000.0)
                  AS BIGINT) AS recency_s
      FROM per_user
    ), scored AS (
      SELECT user_id, recency_s, frequency, monetary_cents,
             CAST(NTILE(5) OVER (ORDER BY recency_s DESC, user_id) AS INT)
               AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INT)
               AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents ASC, user_id) AS INT)
               AS m_score
      FROM rec
    )
    SELECT *, CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
    FROM scored ORDER BY user_id
    """,
)
def events_rfm_q(spark, sf_dir):
    """RFM segmentation: per-user recency/frequency/monetary + NTILE(5)
    scores with explicit user_id tiebreaks (deterministic bucketing —
    the hash grades NTILE's cut points); single-partition windows only
    over the user-sized aggregate."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_rfm,
    )

    return events_rfm(_t(spark, sf_dir, "events"), n_tiles=5)


@_q(
    "geo_dwithin_join",
    """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey * 37 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (s_suppkey * 53 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM supplier
    ), c AS (
      SELECT c_custkey,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    )
    SELECT s_suppkey, c_custkey, ROUND(SQRT(d2), 6) AS dist
    FROM (
      SELECT s.s_suppkey, c.c_custkey,
             (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) AS d2
      FROM s JOIN c
        ON abs(s.x - c.x) <= 4.0 AND abs(s.y - c.y) <= 4.0
    )
    WHERE d2 <= 16.0
    ORDER BY s_suppkey, c_custkey
    """,
)
def geo_dwithin_join_q(spark, sf_dir):
    """Within-distance JOIN (ST_DWithin as a bipartite join predicate):
    suppliers × customers within 4°, via the grid-bucketed cell
    equi-join (3×3 probe cells, exact d² in codegen — never cartesian;
    geo/cluster.py distance_join). The fact-fact analog of the
    point-to-constant geo_dwithin."""
    from iceberg_geospatial_api_server_spark.geo.cluster import distance_join
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
        supplier_points,
    )

    supp = supplier_points(_t(spark, sf_dir, "supplier")).select(
        "s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy")
    )
    cust = customer_points(_t(spark, sf_dir, "customer")).select(
        "c_custkey", F.col("x").alias("cx2"), F.col("y").alias("cy2")
    )
    out = distance_join(supp, cust, "sx", "sy", "cx2", "cy2", 4.0)
    return out.select(
        "s_suppkey", "c_custkey", F.round("dist", 6).alias("dist")
    ).orderBy("s_suppkey", "c_custkey")


def _gi_oracle(cell: float) -> str:
    from iceberg_geospatial_api_server_spark.geo.tiles import GI_STEPS

    c = repr(float(cell))
    sql = f"""
    WITH pts AS (
      SELECT (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM lineitem
    ), cells AS (
      SELECT CAST(FLOOR(x / CAST({c} AS DOUBLE)) AS BIGINT) AS gx,
             CAST(FLOOR(y / CAST({c} AS DOUBLE)) AS BIGINT) AS gy,
             COUNT(*) AS n_points
      FROM pts GROUP BY 1, 2
    ), splat AS (
      SELECT c.gx + dx.j AS gx, c.gy + dy.k AS gy,
             SUM(n_points) AS wx, COUNT(*) AS w
      FROM cells c, UNNEST(generate_series(-1, 1)) dx(j),
                    UNNEST(generate_series(-1, 1)) dy(k)
      GROUP BY 1, 2
    ), j0 AS (
      SELECT c.gx, c.gy, c.n_points, s.wx, s.w,
             COUNT(*) OVER () AS n_cells,
             SUM(c.n_points) OVER () AS sx,
             SUM(c.n_points * c.n_points) OVER () AS sxx
      FROM cells c JOIN splat s USING (gx, gy)
    )"""
    prev = "j0"
    for i, (name, expr) in enumerate(GI_STEPS):
        sql += f", g{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"g{i}"
    sql += f"""
    SELECT gx, gy, CAST(n_points AS BIGINT) AS n_points,
           CAST(wx AS BIGINT) AS wx, CAST(w AS BIGINT) AS w,
           ROUND(gi_z, 6) + 0.0 AS gi_z
    FROM {prev} ORDER BY gx, gy
    """
    return sql


@_q("geo_hotspot_gi", _gi_oracle(10.0))
def geo_hotspot_gi_q(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores over the binned lineitem grid —
    the ArcGIS Hot Spot Analysis tool as one corpus exchange + a 3×3
    splat and windows over the bounded cell frame; every Gi* input is
    an exact integer and the z formula is shared expression text
    (geo/tiles.py GI_STEPS), so the 6-dp z hash-matches."""
    from iceberg_geospatial_api_server_spark.geo.tiles import hotspot_gi_star
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return hotspot_gi_star(pts, "x", "y", 10.0)


_OD_STX, _OD_STY = _tile_expr_sql(
    "(l_suppkey * 37 % 3600) / CAST(10.0 AS DOUBLE) - 180.0",
    "(l_suppkey * 53 % 1700) / CAST(10.0 AS DOUBLE) - 85.0",
    3,
)
_OD_DTX, _OD_DTY = _tile_expr_sql(
    "(o_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0",
    "(o_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0",
    3,
)


@_q(
    "geo_od_flows",
    f"""
    SELECT {_OD_STX} AS src_tx, {_OD_STY} AS src_ty,
           {_OD_DTX} AS dst_tx, {_OD_DTY} AS dst_ty,
           COUNT(*) AS n_flows,
           ROUND(SUM(l_extendedprice), 2) AS flow_value
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2, 3, 4
    """,
)
def geo_od_flows_q(spark, sf_dir):
    """Origin→destination flow matrix at tile granularity (the deck.gl
    ArcLayer / flow-map aggregation): supplier tile → customer tile per
    lineitem, value-weighted. ONE fact-fact shuffle (lineitem⋈orders on
    orderkey — the q9 exchange); both endpoints' tiles are pure
    key-derived arithmetic in the scan stage (shared expression text),
    and the flow aggregation rides a second uniform tile-pair exchange.
    DECIMAL-exact value sums."""
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        CUST_X,
        CUST_Y,
        SUPP_X,
        SUPP_Y,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    stx, sty = _tile_expr_sql(
        SUPP_X.replace("s_suppkey", "l_suppkey"),
        SUPP_Y.replace("s_suppkey", "l_suppkey"),
        3,
    )
    dtx, dty = _tile_expr_sql(CUST_X.replace("c_custkey", "o_custkey"),
                              CUST_Y.replace("c_custkey", "o_custkey"), 3)
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    return (
        joined.groupBy(
            F.expr(stx).alias("src_tx"),
            F.expr(sty).alias("src_ty"),
            F.expr(dtx).alias("dst_tx"),
            F.expr(dty).alias("dst_ty"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.round(F.sum("l_extendedprice"), 2).alias("flow_value"),
        )
    )


@_q(
    "geo_tile_netflow",
    f"""
    WITH f AS (
      SELECT {_OD_STX} AS src_tx, {_OD_STY} AS src_ty,
             {_OD_DTX} AS dst_tx, {_OD_DTY} AS dst_ty,
             CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), outf AS (
      SELECT src_tx AS tx, src_ty AS ty,
             COUNT(*) AS n_out, CAST(SUM(cents) AS BIGINT) AS out_cents
      FROM f GROUP BY 1, 2
    ), inf AS (
      SELECT dst_tx AS tx, dst_ty AS ty,
             COUNT(*) AS n_in, CAST(SUM(cents) AS BIGINT) AS in_cents
      FROM f GROUP BY 1, 2
    )
    SELECT COALESCE(o.tx, i.tx) AS tx, COALESCE(o.ty, i.ty) AS ty,
           CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in,
           CAST(COALESCE(n_out, 0) AS BIGINT) AS n_out,
           CAST(COALESCE(in_cents, 0) - COALESCE(out_cents, 0) AS BIGINT)
             AS net_cents
    FROM outf o FULL OUTER JOIN inf i ON o.tx = i.tx AND o.ty = i.ty
    ORDER BY tx, ty
    """,
)
def geo_tile_netflow_q(spark, sf_dir):
    """Net value flow per tile (inflow − outflow, the deck.gl net-
    migration choropleth over the same OD fact join as geo_od_flows):
    integer-cents sums, two tile aggregates off ONE fact-fact shuffle,
    FULL OUTER merge so sink-only and source-only tiles both report."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cents = F.expr(
        "CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
    )
    f = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.expr(_OD_STX).alias("src_tx"),
        F.expr(_OD_STY).alias("src_ty"),
        F.expr(_OD_DTX).alias("dst_tx"),
        F.expr(_OD_DTY).alias("dst_ty"),
        cents.alias("cents"),
    )
    outf = f.groupBy(
        F.col("src_tx").alias("tx"), F.col("src_ty").alias("ty")
    ).agg(
        F.count(F.lit(1)).alias("n_out"),
        F.sum("cents").cast("long").alias("out_cents"),
    )
    inf = f.groupBy(
        F.col("dst_tx").alias("tx"), F.col("dst_ty").alias("ty")
    ).agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("cents").cast("long").alias("in_cents"),
    )
    return (
        outf.join(inf, ["tx", "ty"], "full_outer")
        .select(
            "tx",
            "ty",
            F.coalesce("n_in", F.lit(0)).cast("long").alias("n_in"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            (
                F.coalesce("in_cents", F.lit(0))
                - F.coalesce("out_cents", F.lit(0))
            )
            .cast("long")
            .alias("net_cents"),
        )
        .orderBy("tx", "ty")
    )


# flow-direction statistics: OD displacement components derived from
# the SAME synthetic coordinate constants geo_od_flows uses (a literal
# copy would silently diverge if sources/synthetic.py changed)
from iceberg_geospatial_api_server_spark.sources.synthetic import (  # noqa: E402
    CUST_X as _FB_CX,
    CUST_Y as _FB_CY,
    SUPP_X as _FB_SX,
    SUPP_Y as _FB_SY,
)

_FB_DX = (
    f"(({_FB_CX.replace('c_custkey', 'o_custkey')})"
    f" - ({_FB_SX.replace('s_suppkey', 'l_suppkey')}))"
)
_FB_DY = (
    f"(({_FB_CY.replace('c_custkey', 'o_custkey')})"
    f" - ({_FB_SY.replace('s_suppkey', 'l_suppkey')}))"
)
# unit-vector components quantized to the 1e-6 grid: SQRT and division
# are IEEE-correctly-rounded (unlike libm trig), so qu/qv are
# bit-identical across engines and their sums are exact integers —
# circular statistics with NO trig in the summed path; ATAN2 touches
# only the one su/sv pair per group at the very end
_FB_R = "SQRT(dx * dx + dy * dy)"
_FB_QU = (
    f"CASE WHEN {_FB_R} > 0.0 THEN"
    f" CAST(FLOOR(dx / {_FB_R} * 1000000.0 + 0.5) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_FB_QV = (
    f"CASE WHEN {_FB_R} > 0.0 THEN"
    f" CAST(FLOOR(dy / {_FB_R} * 1000000.0 + 0.5) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
# half-free FLOOR grid, not ROUND: su/sv are integers, so the resultant
# can land EXACTLY on 5e-7 halves (a 3-4-5 component pair at n=2 gives
# 2.5e-6) — the documented cross-engine half-rounding failure class.
# The mean direction is NOT a graded column at all: DEGREES(ATAN2(...))
# is libm (±1 ulp engine skew at rounding boundaries); the exact (su,
# sv) integers carry the full direction and clients/tests derive the
# angle locally.
_FB_RES = (
    "FLOOR(SQRT(CAST(su AS DOUBLE) * CAST(su AS DOUBLE)"
    "           + CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
    " / (CAST(n_flows AS DOUBLE) * 1000000.0)"
    " * 1000000.0 + 0.5) / CAST(1000000.0 AS DOUBLE)"
)


@_q(
    "geo_flow_bearings",
    f"""
    WITH f AS (
      SELECT {_OD_STX} AS src_tx, {_OD_STY} AS src_ty,
             {_FB_DX} AS dx, {_FB_DY} AS dy
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), u AS (
      SELECT src_tx, src_ty, {_FB_QU} AS qu, {_FB_QV} AS qv FROM f
    ), g AS (
      SELECT src_tx, src_ty, COUNT(*) AS n_flows,
             CAST(SUM(qu) AS BIGINT) AS su, CAST(SUM(qv) AS BIGINT) AS sv
      FROM u GROUP BY 1, 2
    )
    SELECT src_tx, src_ty, n_flows, su, sv,
           {_FB_RES} AS resultant
    FROM g ORDER BY src_tx, src_ty
    """,
)
def geo_flow_bearings_q(spark, sf_dir):
    """Circular (directional) statistics per origin tile over the OD
    flow field: mean flow direction and resultant length R̄ (1 = all
    flows parallel, 0 = isotropic) — the flow-field summary behind
    wind-rose / migration-arrow maps, and a statistics class (circular
    means) the linear aggregates above can't express. Exactness: unit
    vectors via IEEE-exact SQRT/division (no libm trig anywhere in the
    graded output), 1e-6-grid quantization, exact BIGINT component
    sums (su, sv — they carry the mean direction; clients derive the
    angle), half-free resultant. Scale shape: same ONE fact-fact
    orderkey shuffle as geo_od_flows + one tile-key exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    u = joined.selectExpr(
        f"{_OD_STX} AS src_tx",
        f"{_OD_STY} AS src_ty",
        f"{_FB_DX} AS dx",
        f"{_FB_DY} AS dy",
    ).selectExpr(
        "src_tx", "src_ty", f"{_FB_QU} AS qu", f"{_FB_QV} AS qv"
    )
    return (
        u.groupBy("src_tx", "src_ty")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("qu").cast("long").alias("su"),
            F.sum("qv").cast("long").alias("sv"),
        )
        .selectExpr(
            "src_tx",
            "src_ty",
            "n_flows",
            "su",
            "sv",
            f"{_FB_RES} AS resultant",
        )
        .orderBy("src_tx", "src_ty")
    )


def _moran_oracle(cell: float) -> str:
    from iceberg_geospatial_api_server_spark.geo.tiles import MORAN_STEPS

    c = repr(float(cell))
    sql = f"""
    WITH pts AS (
      SELECT (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM lineitem
    ), cells AS (
      SELECT CAST(FLOOR(x / CAST({c} AS DOUBLE)) AS BIGINT) AS gx,
             CAST(FLOOR(y / CAST({c} AS DOUBLE)) AS BIGINT) AS gy,
             COUNT(*) AS xv
      FROM pts GROUP BY 1, 2
    ), probe AS (
      SELECT c.gx + dx.j AS gx, c.gy + dy.k AS gy, c.xv AS xi
      FROM cells c, UNNEST(generate_series(-1, 1)) dx(j),
                    UNNEST(generate_series(-1, 1)) dy(k)
      WHERE NOT (dx.j = 0 AND dy.k = 0)
    ), prs AS (
      SELECT p.xi, c2.xv AS xj, p.gx, p.gy
      FROM probe p JOIN cells c2 USING (gx, gy)
    ), pa AS (
      SELECT CAST(SUM(xi * xj) AS BIGINT) AS s_cross,
             CAST(SUM(xi + xj) AS BIGINT) AS s_pairsum,
             COUNT(*) AS w_sum
      FROM prs
    ), da AS (
      SELECT CAST(SUM(dg * dg) AS BIGINT) AS s_deg2
      FROM (SELECT gx, gy, COUNT(*) AS dg FROM prs GROUP BY 1, 2)
    ), ca AS (
      SELECT COUNT(*) AS n_cells, CAST(SUM(xv) AS BIGINT) AS sx,
             CAST(SUM(xv * xv) AS BIGINT) AS sxx
      FROM cells
    ), j0 AS (SELECT * FROM ca, pa, da)"""
    prev = "j0"
    for i, (name, expr) in enumerate(MORAN_STEPS):
        sql += f", m{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"m{i}"
    sql += f"""
    SELECT CAST(n_cells AS BIGINT) AS n_cells, CAST(w_sum AS BIGINT) AS w_sum,
           ROUND(i_moran, 6) + 0.0 AS i_moran,
           ROUND(e_i, 6) + 0.0 AS e_i,
           ROUND(z_i, 6) + 0.0 AS z_i
    FROM {prev}
    """
    return sql


@_q("geo_moran_i", _moran_oracle(10.0))
def geo_moran_i_q(spark, sf_dir):
    """Global Moran's I + normality z-score over the binned lineitem
    grid — the global spatial-autocorrelation complement of the local
    Gi* tool. All formula inputs are exact integer sums; the
    I/E[I]/Var/z chain is shared expression text (geo/tiles.py
    MORAN_STEPS)."""
    from iceberg_geospatial_api_server_spark.geo.tiles import moran_i
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    return moran_i(pts, "x", "y", 10.0)


def _zipf_oracle(top_n: int, quant: int) -> str:
    from iceberg_geospatial_api_server_spark.operators.text import ZIPF_STEPS

    q = repr(float(quant))
    sql = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
      ORDER BY freq DESC, tok LIMIT {top_n}
    ), pts AS (
      SELECT CAST(FLOOR(LN(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok)
                               AS DOUBLE)) * {q} + 0.5) AS BIGINT) AS lx,
             CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * {q} + 0.5) AS BIGINT) AS ly
      FROM vocab
    ), j0 AS (
      SELECT COUNT(*) AS n_used,
             CAST(SUM(lx) AS BIGINT) AS sxq, CAST(SUM(ly) AS BIGINT) AS syq,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx,
             CAST(SUM(ly * ly) AS BIGINT) AS syy
      FROM pts
    )"""
    prev = "j0"
    for i, (name, expr) in enumerate(ZIPF_STEPS):
        sql += f", z{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"z{i}"
    sql += f"""
    SELECT CAST(n_used AS BIGINT) AS n_used,
           ROUND(slope, 6) + 0.0 AS slope,
           ROUND(intercept, 6) + 0.0 AS intercept,
           ROUND(r2, 6) + 0.0 AS r2
    FROM {prev}
    """
    return sql


@_q("text_zipf_fit", _zipf_oracle(500, 1_000_000))
def text_zipf_fit_q(spark, sf_dir):
    """Zipf's-law rank-frequency fit over the top-500 vocabulary (corpus
    data card: natural text slopes ≈ −1). ln values quantize to
    integers before the regression sums (the corpus_perplexity
    pattern), so slope/intercept/R² hash-match via shared expression
    text (operators/text.py zipf_fit)."""
    from iceberg_geospatial_api_server_spark.operators.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=500)


def _acf_oracle(max_lag: int) -> str:
    from iceberg_geospatial_api_server_spark.operators.relational import (
        ACF_STEPS,
    )

    sql = f"""
    WITH counts AS (
      SELECT CAST(FLOOR(CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT)
                        / 3600) AS BIGINT) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1
    ), b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM counts),
    spine AS (SELECT UNNEST(generate_series(h0, h1)) AS h FROM b),
    dense AS (
      SELECT s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN counts c USING (h)
    ), lagged AS (
      SELECT l.j AS lag, d.h + l.j AS h, d.c AS x
      FROM dense d, UNNEST(generate_series(1, {max_lag})) l(j)
    ), paired AS (
      SELECT p.lag, p.x, d.c AS y FROM lagged p JOIN dense d USING (h)
    ), j0 AS (
      SELECT lag, COUNT(*) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM paired GROUP BY lag
    )"""
    prev = "j0"
    for i, (name, expr) in enumerate(ACF_STEPS):
        sql += f", a{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"a{i}"
    sql += f"""
    SELECT CAST(lag AS INT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(acf, 6) + 0.0 AS acf
    FROM {prev} ORDER BY lag
    """
    return sql


@_q("events_autocorr", _acf_oracle(24))
def events_autocorr_q(spark, sf_dir):
    """Hourly event-volume autocorrelation at lags 1..24 (seasonality
    probe): one corpus exchange to the hour series, dense zero-filled
    spine, map-side lag explode over the SERIES, exact-integer Pearson
    sums with the shared-text r (operators/relational.py
    events_autocorr)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        events_autocorr,
    )

    return events_autocorr(_t(spark, sf_dir, "events"), max_lag=24)


@_q(
    "customer_pareto",
    """
    WITH per_cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey
    ), tiled AS (
      SELECT *, NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
      FROM per_cust
    ), pd AS (
      SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS decile_rev
      FROM tiled GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile, n_customers,
           ROUND(decile_rev, 2) AS decile_rev,
           ROUND(CAST(SUM(decile_rev) OVER (ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(SUM(decile_rev) OVER () AS DOUBLE), 6) AS cum_share
    FROM pd ORDER BY decile
    """,
)
def customer_pareto_q(spark, sf_dir):
    """Revenue Pareto curve: customer deciles by total order value with
    cumulative revenue share — DECIMAL-exact through every sum, one
    double division at the end; NTILE totally ordered (rev desc,
    custkey)."""
    from iceberg_geospatial_api_server_spark.operators.relational import (
        customer_pareto,
    )

    return customer_pareto(_t(spark, sf_dir, "orders"), n_buckets=10)


@_q(
    "geo_dbscan_core",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 29 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
             (c_custkey * 41 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
      FROM customer
    ), nb AS (
      SELECT a.id AS ida, b.id AS idb
      FROM pts a JOIN pts b
        ON abs(a.x - b.x) <= 4.0 AND abs(a.y - b.y) <= 4.0
       AND a.id <> b.id
       AND ((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 16.0
    ), deg AS (
      SELECT ida AS id, COUNT(*) AS n FROM nb GROUP BY ida
    ), base AS (
      SELECT p.id, COALESCE(d.n, 0) AS n_neighbors
      FROM pts p LEFT JOIN deg d USING (id)
    ), cores AS (
      SELECT id FROM base WHERE n_neighbors + 1 >= 3
    ), anchor AS (
      SELECT nb.ida AS id, MIN(nb.idb) AS core_anchor
      FROM nb JOIN cores c ON nb.idb = c.id GROUP BY nb.ida
    )
    SELECT b.id, CAST(b.n_neighbors AS BIGINT) AS n_neighbors,
           (b.n_neighbors + 1 >= 3) AS is_core,
           a.core_anchor
    FROM base b LEFT JOIN anchor a USING (id)
    ORDER BY b.id
    """,
)
def geo_dbscan_core_q(spark, sf_dir):
    """DBSCAN's scale-critical kernel hash-graded: the grid-bucketed
    ε-neighborhood join (3×3 cell equi-join, exact d²≤ε² inside the
    join, never cartesian) → per-point degree, core flag, and smallest
    in-ε core anchor. The composed clustering (geo_dbscan, rows-only)
    reuses connected_components_smallest_id, whose closure is
    value-graded via dedup_cluster_assign (geo/cluster.py)."""
    from iceberg_geospatial_api_server_spark.geo.cluster import dbscan_profile
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )

    pts = customer_points(_t(spark, sf_dir, "customer"))
    return dbscan_profile(
        pts, "x", "y", "c_custkey", eps=4.0, min_pts=3
    ).withColumnRenamed("c_custkey", "id")


@_q("geo_dbscan")  # rows-only: crafted-cluster semantics in tests/test_dbscan.py
def geo_dbscan_q(spark, sf_dir):
    """Full DBSCAN over customer points: clusters = smallest-core-id
    components of the core graph; borders attach to their smallest in-ε
    core's cluster; noise NULL."""
    from iceberg_geospatial_api_server_spark.geo.cluster import dbscan
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        customer_points,
    )

    pts = customer_points(_t(spark, sf_dir, "customer"))
    return dbscan(pts, "x", "y", "c_custkey", eps=4.0, min_pts=3)


from iceberg_geospatial_api_server_spark.geo.functions import (  # noqa: E402
    haversine_expr_sql as _haversine_expr_sql,
)

_HAV_D = _haversine_expr_sql("x", "y", "0.0", "0.0")


@_q(
    "geo_haversine_knn",
    f"""
    SELECT l_orderkey, l_linenumber, ROUND({_HAV_D}, 3) AS dist_m
    FROM {_LI_PTS} p
    ORDER BY {_HAV_D}, l_orderkey, l_linenumber
    LIMIT 15
    """,
)
def geo_haversine_knn_q(spark, sf_dir):
    """Geodesic kNN: great-circle (haversine) distance as shared
    Spark/DuckDB expression text (geo/functions.py haversine_expr_sql),
    TakeOrderedAndProject plan — the spherical complement of the planar
    geo_knn (the reference reaches geodesic measures via DuckDB spatial's
    ST_Distance_Sphere; ref query cookbook §1.2)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        haversine_knn,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_points,
    )

    pts = lineitem_points(_t(spark, sf_dir, "lineitem"))
    out = haversine_knn(
        pts, "x", "y", 0.0, 0.0, 15, id_cols=["l_orderkey", "l_linenumber"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("dist_m", 3).alias("dist_m")
    )


@_q(
    "geo_clip_rects",
    f"""
    SELECT l_orderkey, l_linenumber,
           GREATEST(rxmin, -60.0) AS clip_xmin,
           GREATEST(rymin, -30.0) AS clip_ymin,
           LEAST(rxmax, 40.0) AS clip_xmax,
           LEAST(rymax, 35.0) AS clip_ymax,
           ROUND((LEAST(rxmax, 40.0) - GREATEST(rxmin, -60.0))
                 * (LEAST(rymax, 35.0) - GREATEST(rymin, -30.0)), 4)
             AS clip_area
    FROM (SELECT l_orderkey, l_linenumber,
                 ({_SYN_LI_X}) - 1.95 AS rxmin, ({_SYN_LI_X}) + 1.95 AS rxmax,
                 ({_SYN_LI_Y}) - 1.45 AS rymin, ({_SYN_LI_Y}) + 1.45 AS rymax
          FROM lineitem) r
    WHERE rxmin < 40.0 AND rxmax > -60.0 AND rymin < 35.0 AND rymax > -30.0
    """,
)
def geo_clip_rects_q(spark, sf_dir):
    """Viewport clipping graded end-to-end: the REAL Sutherland–Hodgman
    kernel (geo/clip.py) clips 60k rect polygons through the WKB
    decode→clip→re-encode path, and the oracle is the closed-form
    rect∩rect arithmetic the kernel must reproduce exactly — clipped
    bounds compare as raw doubles (no tolerance), area at the 4-dp grid
    the 0.05-aligned inputs guarantee. Boundary-touch features (zero-area
    intersection) drop on both sides: the kernel's degenerate-ring
    shoelace is an exact float zero, the oracle's inequalities are
    strict."""
    from iceberg_geospatial_api_server_spark.geo.clip import clip_features
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_rect_geoms,
    )

    rects = lineitem_rect_geoms(_t(spark, sf_dir, "lineitem"))
    out = clip_features(rects, (-60.0, -30.0, 40.0, 35.0))
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "clip_xmin",
        "clip_ymin",
        "clip_xmax",
        "clip_ymax",
        F.round("clip_area", 4).alias("clip_area"),
    )


# ===========================================================================
# Registration order
# ===========================================================================
# The driver grades the first 50 entries of queries(), so the order re-grades
# the oracles it saw pass least recently: the jump queue first, then every
# oracle by the newest CORRECTNESS_r<N>.json round that hash-matched it
# (never-matched first), then by name; rows-only entries follow in
# registration order. tools/window_check.py checks the result independently.

# oracled entries whose code changed after their newest green round
# (CORRECTNESS_r11): each re-grades out of turn. A newer artifact that
# greens them makes the list stale; empty it then.
JUMP_QUEUE = [
    "fq_aggregate_mode",  # with_bbox: the default st_bbox is deterministic again
    "fq_attribute_filter",  # query_features: persisted-OID page, SQL-text select
    "fq_bbox_filter",  # query_features: bbox_intersects is SQL text
    "fq_count_only",  # query_features: count in one aggregate pass
    "fq_geometry_filter",  # query_features: declared types, SQL bbox text
    "fq_geometry_filter_rects",  # query_features: declared types, SQL bbox text
    "fq_ids_only",  # query_features: persisted-OID projection
    "fq_object_ids",  # query_features: persisted-OID selection
    "geo_clip_rects",  # clip_features reuses __bbox_*, SQL bbox prefilter
    "geo_extent",  # lineitem_bbox_layer persists __oid and geometry types
    "geo_simplify_parity",  # st_simplify's kernel moved into simplify_wkb
    "q3_shipping_priority",  # revenue rounds half-free, FLOOR(x*100 + 0.5)/100
]


def _freshest_green() -> dict[str, int]:
    """Name → the newest CORRECTNESS_r<N>.json round (N) whose row for it
    hash-matched; the artifacts sit at the repository root, next to the
    package (none found: every name reads as never matched)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fresh: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                fresh[name] = max(fresh.get(name, 0), rnd)
    return fresh


def _order_registry() -> None:
    fresh = _freshest_green()
    oracled = sorted(
        (n for n in QUERIES if n in ORACLES),
        key=lambda n: (n not in JUMP_QUEUE, fresh.get(n, 0), n),
    )
    rows_only = [n for n in QUERIES if n not in ORACLES]
    ordered = {n: QUERIES[n] for n in oracled + rows_only}
    QUERIES.clear()
    QUERIES.update(ordered)


_order_registry()

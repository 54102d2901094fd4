"""Core feature-query engine on Spark DataFrames.

Re-expresses ``/root/reference/iceberg-geo-api/src/iceberg_geo/query/
engine.py:282-463 query_features`` — the reference's single SQL-building
choke point — as declarative DataFrame transforms so Catalyst handles
pushdown, pruning and ordering strategy:

* bbox filter via __bbox_* pre-filter columns (engine.py:318-339)
* WKT geometry filter with intersects/contains/within (341-357)
* sanitized attribute WHERE (539-563) compiled with F.expr
* stable global OIDs (367-372), count-only / ids-only / objectIds modes
* field selection (_build_select, 648-683), ORDER BY sanitization
  (566-596), limit/offset pagination, exceededTransferLimit (448-456)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.catalog import (
    INTERNAL_COLS,
    detect_geometry_column,
)
from iceberg_geospatial_api_server_spark.geo import functions as G
from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.models import QueryParams, QueryResult

# WHERE sanitization. The reference blocklists keywords
# (engine.py:33-45, 539-563) against DuckDB; compiling client text with
# F.expr against Spark SQL exposes a much larger builtin surface
# (java_method/reflect can invoke arbitrary static Java methods), so we
# use a token-level ALLOWLIST instead: column refs, literals,
# comparison/boolean operators, IN/BETWEEN/LIKE/IS NULL, arithmetic, and
# a short approved function list. Anything else — in particular any
# function call not on the list — is rejected.
_FORBIDDEN_PATTERNS = re.compile(r"(--|/\*|\*/|;)")

_WHERE_TOKEN = re.compile(
    r"""
      \s+
    | '(?:[^']|'')*'                  # string literal ('' escape)
    | \d+(?:\.\d+)?(?:[eE][+-]?\d+)?  # numeric literal
    | [a-zA-Z_][a-zA-Z0-9_]*          # identifier / keyword
    | <= | >= | <> | != | = | < | >
    | [(),+\-*/%.]
    """,
    re.VERBOSE,
)

_WHERE_KEYWORDS = {
    "AND", "OR", "NOT", "IN", "BETWEEN", "LIKE", "ILIKE", "ESCAPE",
    "IS", "NULL", "TRUE", "FALSE", "TIMESTAMP", "DATE",
}
_WHERE_FUNCS = {
    "UPPER", "LOWER", "ABS", "ROUND", "FLOOR", "CEIL", "COALESCE",
    "LENGTH", "TRIM", "SUBSTRING", "CAST",
}
# DML/DDL verbs can never appear in a valid scalar predicate; rejecting
# them outright gives clearer errors than Catalyst's parse failure.
_WHERE_DENY = {
    "DROP", "DELETE", "INSERT", "UPDATE", "CREATE", "ALTER", "EXEC",
    "EXECUTE", "UNION", "TRUNCATE", "GRANT", "REVOKE", "MERGE", "CALL",
    "COPY", "ATTACH", "DETACH", "PRAGMA", "SET",
    # niladic builtins: Spark's parser evaluates these WITHOUT parens, so
    # a "bare identifier" spelling still calls the function — leaking the
    # service account (current_user) or making predicates nondeterministic
    # (current_timestamp). Columns may not use these reserved names.
    "CURRENT_USER", "SESSION_USER", "USER", "CURRENT_DATE",
    "CURRENT_TIMESTAMP", "CURRENT_TIME", "LOCALTIME", "LOCALTIMESTAMP",
    "NOW", "CURRENT_CATALOG", "CURRENT_DATABASE", "CURRENT_SCHEMA",
    "CURRENT_TIMEZONE",
}


def sanitize_where(where: str) -> str:
    """Allowlist-validate a client WHERE clause (ref engine.py:539-563
    _sanitize_where, hardened for Spark's builtin surface)."""
    if not where or not where.strip():
        return "1=1"
    if _FORBIDDEN_PATTERNS.search(where):
        raise ValueError(f"Forbidden pattern in WHERE clause: {where}")

    tokens, pos = [], 0
    while pos < len(where):
        m = _WHERE_TOKEN.match(where, pos)
        if not m:
            raise ValueError(
                f"Unsupported character {where[pos]!r} in WHERE clause: {where}"
            )
        tok = m.group(0)
        if tok.strip():
            tokens.append(tok)
        pos = m.end()

    for i, tok in enumerate(tokens):
        if not re.match(r"^[a-zA-Z_]", tok):
            continue
        up = tok.upper()
        if up in ("SELECT", "EXISTS"):
            raise ValueError(f"Subqueries not allowed in WHERE clause: {where}")
        if up in _WHERE_DENY:
            raise ValueError(f"Forbidden keyword in WHERE clause: {where}")
        if up in _WHERE_KEYWORDS:
            continue
        is_call = i + 1 < len(tokens) and tokens[i + 1] == "("
        if is_call:
            if up not in _WHERE_FUNCS:
                raise ValueError(
                    f"Function {tok!r} not allowed in WHERE clause: {where}"
                )
        # bare identifier → column reference (validated against the
        # schema by Catalyst's analyzer; unknown columns fail there)
    return where


def sanitize_order(order_by: str) -> list:
    """Ref engine.py:566-596 _sanitize_order → list of Column sort exprs."""
    if not order_by:
        return []
    if _FORBIDDEN_PATTERNS.search(order_by):
        raise ValueError(f"Forbidden pattern in ORDER BY: {order_by}")
    cols = []
    for part in order_by.split(","):
        tokens = part.split()
        if not tokens:
            continue
        name = tokens[0]
        if not re.match(r"^[a-zA-Z_][a-zA-Z0-9_]*$", name):
            raise ValueError(f"Invalid column name in ORDER BY: {name}")
        direction = tokens[1].upper() if len(tokens) > 1 else "ASC"
        if direction not in ("ASC", "DESC"):
            raise ValueError(f"Invalid sort direction: {direction}")
        cols.append(F.col(name).desc() if direction == "DESC" else F.col(name).asc())
    return cols


_SORTABLE_TYPES = {
    "integer", "long", "short", "byte", "float", "double", "decimal",
    "string", "date", "timestamp", "timestamp_ntz", "boolean", "binary",
}

# Buckets for the distributed rank. 64 keeps the offset map tiny on
# local[32]; a 1000-executor deployment would raise this toward
# defaultParallelism so each bucket's sort fits one task.
_OID_BUCKETS = 64


def _default_oid_order(df: DataFrame) -> list[str]:
    """Total order over every sortable column (schema order) so OIDs never
    depend on plan/partition order even when no single column is unique."""
    cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in _SORTABLE_TYPES
    ]
    return cols or [df.columns[0]]


def _string_cutpoints(df: DataFrame, key0: str) -> list | None:
    """Driver-bounded bucket cutpoints for a string leading key: take a
    deterministic hash-thinned sample of key values (no RAND), sort it,
    and return evenly spaced quantiles. Returns None when the sample is
    too thin — the caller then uses the one-sort small-frame fallback.

    Cutpoint drift between plans/sessions is harmless: any
    order-preserving bucketing produces identical final OIDs. Ordering
    is engine-consistent because Spark compares strings bytewise on
    UTF-8, which equals codepoint order, which equals Python ``str``
    ordering used to sort the sample.
    """
    samp = (
        df.select(F.col(key0).alias("k"))
        .filter(F.col("k").isNotNull())
        .filter(F.pmod(F.xxhash64(F.col("k")), F.lit(64)) == 0)
        .limit(64 * _OID_BUCKETS)
        .collect()
    )
    keys = sorted({r["k"] for r in samp})
    if len(keys) >= 4 * _OID_BUCKETS:
        step = len(keys) / _OID_BUCKETS
        return sorted({keys[int(i * step)] for i in range(1, _OID_BUCKETS)})
    # Thin sample: either the frame is small (sort is fine) or the key
    # has low cardinality (a 100 TB table with 50 distinct sources must
    # NOT collapse to one partition). Distinguish with a bounded
    # distinct probe and use the distinct keys themselves as cutpoints —
    # ranking within one key value still co-locates that key's rows,
    # which is the irreducible skew of ranking by a hot key.
    cap = 4 * _OID_BUCKETS
    distinct = (
        df.select(F.col(key0).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(distinct) > cap or len(distinct) <= 1:
        return None  # genuinely small frame (or constant key) → one sort
    return sorted({r["k"] for r in distinct})[1:]


def with_oid(df: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """Stable global OIDs (ref engine.py:367-372 numbered CTE).

    The reference numbers an in-memory Arrow table in scan order; the
    distributed equivalent ranks rows under an explicit content-based total
    order (all sortable columns by default) so the ids-only → objectIds
    round-trip is deterministic across queries and plans.

    Scale path: a bare ``row_number().over(Window.orderBy(...))`` funnels
    the whole table through ONE partition. Instead we rank in parallel:

    1. deterministic quantile cutpoints on the leading key (driver gets
       ~``_OID_BUCKETS`` doubles, never rows),
    2. order-preserving bucket id per row (JVM higher-order function),
    3. per-bucket counts (collect ≤ ``_OID_BUCKETS`` rows) → cumulative
       offsets,
    4. ``row_number`` windowed *per bucket* (parallel shuffle on the
       bucket id) + the bucket's offset.

    Any order-preserving bucketing yields the same final rank, so slight
    quantile drift between sessions cannot change an OID. Numeric leading
    keys derive cutpoints from approxQuantile; string keys from a
    deterministic hash sample of key values (both driver-bounded: never
    rows, only ≤ ``_OID_BUCKETS`` cut values). The global window remains
    only as the small-frame fallback when the sample is too thin to cut.

    A frame that already carries ``__oid`` is returned unchanged and runs
    no job: persisted layers store it at ingest
    (``sources.geo_layer.lineitem_bbox_layer`` ranks by this function's
    default order before writing), so served requests never rank.
    """
    if "__oid" in df.columns:
        return df
    order_cols = order_cols or _default_oid_order(df)
    # cache keyed by the ordering — OIDs from different order_cols on the
    # same frame must never alias each other
    cache_key = tuple(order_cols)
    cached = getattr(df, "_sg_oid_cache", None)
    if cached is not None and cache_key in cached:
        return cached[cache_key]
    key0 = order_cols[0]
    key0_type = df.schema[key0].dataType.typeName()
    numeric = key0_type in {
        "integer", "long", "short", "byte", "float", "double", "decimal",
    }
    sort_exprs = [F.col(c) for c in order_cols]

    if numeric:
        probs = [i / _OID_BUCKETS for i in range(1, _OID_BUCKETS)]
        cuts = sorted(
            {float(c) for c in df.stat.approxQuantile(key0, probs, 0.001)}
        )
        key_cmp = F.col(key0).cast("double")
    else:
        cuts = _string_cutpoints(df, key0)
        key_cmp = F.col(key0)
        if cuts is None:  # frame too small to sample — one sort fits
            w = Window.orderBy(*sort_exprs)
            out = df.withColumn(
                "__oid", (F.row_number().over(w) - 1).cast("int")
            )
            if not hasattr(df, "_sg_oid_cache"):
                df._sg_oid_cache = {}
            df._sg_oid_cache[cache_key] = out
            return out

    if cuts:
        cut_arr = F.array(*[F.lit(c) for c in cuts])
        bucket = F.size(F.filter(cut_arr, lambda c: key_cmp > c))
    else:  # constant/empty leading key → single bucket
        bucket = F.lit(0)
    tagged = df.withColumn("__bkt", bucket)

    counts = {
        r["__bkt"]: r["cnt"]
        for r in tagged.groupBy("__bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    if not offsets:
        offsets = {0: 0}
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )

    w = Window.partitionBy("__bkt").orderBy(*sort_exprs)
    out = (
        tagged.withColumn(
            "__oid",
            (
                F.element_at(offset_map, F.col("__bkt"))
                + F.row_number().over(w)
                - 1
            ).cast("int"),
        )
        .drop("__bkt")
    )
    if not hasattr(df, "_sg_oid_cache"):
        df._sg_oid_cache = {}
    df._sg_oid_cache[cache_key] = out
    return out


def _build_select(df: DataFrame, params: QueryParams, geom_col: str | None) -> list[str]:
    """Ref engine.py:648-683 _build_select."""
    cols = [c for c in df.columns if c not in INTERNAL_COLS]
    if params.out_fields and params.out_fields != "*":
        wanted = [f.strip() for f in params.out_fields.split(",")]
        cols = [c for c in wanted if c in df.columns and c not in INTERNAL_COLS]
        if geom_col and params.return_geometry and geom_col not in cols:
            cols.append(geom_col)
    if geom_col and not params.return_geometry:
        cols = [c for c in cols if c != geom_col]
    return ["__oid"] + cols


def _one_pass(df: DataFrame, *aggs) -> dict:
    """Aggregates over `df` in ONE Spark job: they ride the scan as
    observed metrics (per-task accumulators merged on the driver) while
    the rows drain into the no-op sink. A DataFrame aggregate instead
    shuffles, and adaptive execution submits the shuffle as a job of its
    own. Select only the columns the aggregates need: the sink reads every
    column of `df`."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _geometry_shaper(params: QueryParams, src_srid: int):
    """outSR reprojection, then maxAllowableOffset thinning (the tolerance
    is in output-SR units per the GeoServices spec), as one per-WKB
    function — None when the request asks for neither."""
    steps = []
    if params.out_sr is not None and params.out_sr != src_srid:
        steps.append(G.reproject_wkb_fn(params.out_sr, src_wkid=src_srid))
    tol = params.max_allowable_offset
    if tol and tol > 0:
        steps.append(lambda buf: G.simplify_wkb(buf, tol))
    if not steps:
        return None

    def shape(buf):
        for step in steps:
            buf = step(buf)
        return buf

    return shape


def _shape_rows(rows: list[dict], geom_col: str, shape) -> list[dict]:
    """The shaper applied to collected rows, on the driver."""
    if shape is not None:
        for r in rows:
            if r[geom_col] is not None:
                r[geom_col] = shape(bytes(r[geom_col]))
    return rows


def query_features(
    df: DataFrame,
    params: QueryParams,
    geom_col: str | None = None,
    oid_order: list[str] | None = None,
    src_srid: int = 4326,
) -> QueryResult:
    """Execute the unified feature query (ref engine.py:282-463).

    All filters are declarative Column expressions: Catalyst pushes the
    attribute and bbox predicates into the parquet scan when __bbox_* are
    persisted, and the WKB exact predicate (pandas UDF) only runs on rows
    that survive the numeric pre-filters.

    Count and extent run now, each as one job. Feature results stay lazy:
    `features` is the plan of exactly the page, geometries in `src_srid`.
    A bounded page is answered by one collect of the same page plus one
    row (count, exceededTransferLimit and the rows together), made on
    first access. outSR/maxAllowableOffset shaping runs on the driver over
    the collected rows (`QueryResult.rows`), not as a Python stage in the
    plan.
    """
    geom_col = geom_col or detect_geometry_column(df.schema)
    numbered = with_oid(df, oid_order)

    cond = F.lit(True)

    # spatial: bbox envelope (engine.py:318-339)
    if params.bbox is not None:
        if "__bbox_xmin" not in numbered.columns and geom_col:
            numbered = G.with_bbox(numbered, geom_col)
        xmin, ymin, xmax, ymax = params.bbox
        cond = cond & G.bbox_intersects(xmin, ymin, xmax, ymax)

    # spatial: WKT geometry filter (engine.py:341-357)
    if params.geometry_filter:
        gbuf = W.from_wkt(params.geometry_filter)
        fxmin, fymin, fxmax, fymax = W.bbox(gbuf)
        if "__bbox_xmin" not in numbered.columns and geom_col:
            numbered = G.with_bbox(numbered, geom_col)
        # bbox pre-filter for every relation ('contains' needs the filter
        # inside the feature, so feature bbox must COVER the filter bbox —
        # still a pushable envelope test, just the containment direction)
        if params.spatial_rel == "contains":
            cond = cond & (
                (F.col("__bbox_xmin") <= F.lit(fxmin))
                & (F.col("__bbox_xmax") >= F.lit(fxmax))
                & (F.col("__bbox_ymin") <= F.lit(fymin))
                & (F.col("__bbox_ymax") >= F.lit(fymax))
            )
        else:
            cond = cond & G.bbox_intersects(fxmin, fymin, fxmax, fymax)
        code = W.geometry_type_code(gbuf)
        if code in (W.POLYGON, W.MULTIPOLYGON):
            if params.spatial_rel not in ("intersects", "within", "contains"):
                raise ValueError(
                    f"unsupported spatial_rel: {params.spatial_rel}"
                )
            if geom_col:
                # exact per-feature kernel for ALL geometry types (ref
                # engine.py:599-647 runs shapely exact per feature); the
                # pandas UDF only sees bbox-surviving candidates. Point
                # features skip WKB decode via the cheap ray-cast on the
                # __bbox center (a point's bbox IS the point).
                is_pt = (F.col("__bbox_xmin") == F.col("__bbox_xmax")) & (
                    F.col("__bbox_ymin") == F.col("__bbox_ymax")
                )
                if params.spatial_rel == "contains":
                    exact = G.st_relates_const(gbuf, "contains")(F.col(geom_col))
                    cond = cond & (~is_pt) & exact
                else:
                    pt_exact = G.st_contains_point(
                        F.lit(bytearray(gbuf)),
                        F.col("__bbox_xmin"),
                        F.col("__bbox_ymin"),
                    )
                    if params.spatial_rel == "intersects":
                        # closed-set intersects: a point ON the filter
                        # boundary intersects (ray-cast alone is
                        # boundary-ambiguous); within keeps interior
                        # semantics (shapely: boundary point not within)
                        pt_exact = pt_exact | G.st_point_on_edge(gbuf)(
                            F.col("__bbox_xmin"), F.col("__bbox_ymin")
                        )
                    shape_exact = G.st_relates_const(
                        gbuf, params.spatial_rel
                    )(F.col(geom_col))
                    cond = cond & F.when(is_pt, pt_exact).otherwise(shape_exact)

    # attribute WHERE (engine.py:359-362)
    if params.where:
        cond = cond & F.expr(sanitize_where(params.where))
    # typed predicate from programmatic callers — no text round-trip
    if params.where_expr is not None:
        cond = cond & params.where_expr

    filtered = numbered.filter(cond)

    # count-only (engine.py:374-387)
    if params.return_count_only:
        m = _one_pass(filtered.select(), F.count(F.lit(1)).alias("n"))
        return QueryResult(features=None, count=int(m["n"]))

    # extent-only (GeoServices returnExtentOnly): envelope + count of the
    # filtered set in ONE pass — no features materialized
    if params.return_extent_only:
        if not geom_col:
            m = _one_pass(filtered.select(), F.count(F.lit(1)).alias("n"))
            return QueryResult(features=None, count=int(m["n"]))
        if "__bbox_xmin" not in filtered.columns:
            filtered = G.with_bbox(filtered, geom_col)
        m = _one_pass(
            filtered.select(*G.BBOX_COLS),
            F.min("__bbox_xmin").alias("xmin"),
            F.min("__bbox_ymin").alias("ymin"),
            F.max("__bbox_xmax").alias("xmax"),
            F.max("__bbox_ymax").alias("ymax"),
            F.count(F.lit(1)).alias("n"),
        )
        # rows may match while every geometry is NULL → aggregates come
        # back None; that's a null extent, not a crash
        ext = (
            None
            if m["n"] == 0 or m["xmin"] is None
            else {k: float(m[k]) for k in ("xmin", "ymin", "xmax", "ymax")}
        )
        return QueryResult(
            features=None,
            geometry_column=geom_col,
            count=int(m["n"]),
            extent=ext,
        )

    def by_oid(rows: list[dict]) -> list[dict]:
        return sorted(rows, key=lambda r: r["__oid"])

    # ids-only (engine.py:389-398): collected unsorted (a distributed sort
    # costs a sampling job and a shuffle) and sorted on the driver
    if params.return_ids_only:
        ids = filtered.select("__oid")
        return QueryResult(
            features=ids.orderBy("__oid"),
            geometry_column=geom_col,
            probe=ids,
            finish=by_oid,
        )

    # objectIds fetch (engine.py:400-416)
    if params.object_ids is not None:
        out = numbered.filter(
            F.col("__oid").isin([int(i) for i in params.object_ids])
        )
        cols = _build_select(out, params, geom_col)
        out = out.select(*cols)
        shape = _geometry_shaper(params, src_srid) if geom_col in cols else None
        return QueryResult(
            features=out,
            geometry_column=geom_col,
            probe=out,
            finish=lambda rows: _shape_rows(by_oid(rows), geom_col, shape),
        )

    # order / pagination (engine.py:418-438). __oid is always appended as a
    # tiebreaker so pagination windows are deterministic under ties (the
    # reference inherits DuckDB's stable sort; a distributed sort has no
    # such guarantee without an explicit total order).
    order = sanitize_order(params.order_by) if params.order_by else []
    ordered = filtered.orderBy(*order, F.col("__oid"))
    offset = params.offset or 0
    if offset:
        ordered = ordered.offset(offset)
    cols = _build_select(ordered, params, geom_col)
    shape = _geometry_shaper(params, src_srid) if geom_col in cols else None

    if not params.limit:
        # unbounded export: never collected here; count() counts it
        return QueryResult(
            features=ordered.select(*cols),
            geometry_column=geom_col,
            finish=lambda rows: _shape_rows(rows, geom_col, shape),
        )
    # exceededTransferLimit (engine.py:448-456): one row past the page
    # exists iff the filtered set holds more than offset + limit rows
    limit = int(params.limit)
    return QueryResult(
        features=ordered.limit(limit).select(*cols),
        geometry_column=geom_col,
        probe=ordered.limit(limit + 1).select(*cols),
        limit=limit,
        finish=lambda rows: _shape_rows(rows, geom_col, shape),
    )


def get_features(
    df: DataFrame,
    bbox: tuple[float, float, float, float] | None = None,
    limit: int | None = None,
    simplify: float | None = None,
    mode: str | None = None,
    resolution: float | None = None,
    geom_col: str = "geometry",
) -> DataFrame:
    """The /api/features endpoint semantics (ref api/main.py:306-480):
    bbox filter + optional ST_Simplify + optional grid-aggregate mode."""
    src = df if "__bbox_xmin" in df.columns else G.with_bbox(df, geom_col)
    if bbox is not None:
        src = src.filter(G.bbox_intersects(*bbox))

    if mode == "aggregate":
        res = resolution or 0.1
        cent = G.st_centroid(F.col(geom_col))
        pts = src.select(cent.alias("__c")).select(
            F.col("__c.x").alias("x"), F.col("__c.y").alias("y")
        )
        return G.grid_aggregate(pts, "x", "y", res, limit)

    if simplify and simplify > 0:
        src = src.withColumn(geom_col, G.st_simplify(simplify)(F.col(geom_col)))

    out = src.drop(*[c for c in G.BBOX_COLS if c in src.columns])
    return out.limit(limit) if limit else out

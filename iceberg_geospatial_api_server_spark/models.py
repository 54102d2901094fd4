"""Query parameter / result models (ref ``query/models.py``) —
API-agnostic query semantics, not wire formats."""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timezone
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import TimestampType


@dataclass
class QueryParams:
    """Unified query parameters (ref query/models.py:11-45)."""

    # -- geometry predicates (envelope and/or exact WKT filter) --
    bbox: Optional[tuple[float, float, float, float]] = None
    geometry_filter: Optional[str] = None  # WKT
    spatial_rel: str = "intersects"  # intersects | contains | within

    # -- attribute predicate (sanitized WHERE fragment) --
    where: Optional[str] = None
    # -- attribute predicate as a typed Column expression: programmatic
    # callers (e.g. the OGC provider) pass predicates WITHOUT a text
    # round-trip through the sanitizer; ANDed with `where` when both set.
    where_expr: Optional[Column] = None

    # -- projection: which columns come back --
    out_fields: Optional[str] = None  # comma-separated or "*"
    return_geometry: bool = True

    # -- paging window --
    limit: Optional[int] = 1000
    offset: Optional[int] = 0

    # -- result ordering --
    order_by: Optional[str] = None

    # -- alternate result shapes (count / id-list / extent / fetch-by-oid) --
    return_count_only: bool = False
    return_ids_only: bool = False
    return_extent_only: bool = False
    object_ids: Optional[list[int]] = None

    # -- coordinate reference of returned geometries --
    out_sr: Optional[int] = None
    # -- server-side vertex thinning tolerance (maxAllowableOffset) --
    max_allowable_offset: Optional[float] = None


def collect_rows(plan: DataFrame) -> list[dict]:
    """`plan` collected as one dict per row, TIMESTAMP values made
    UTC-aware (collect hands them back naive in local time)."""
    ts_cols = [
        f.name for f in plan.schema.fields if isinstance(f.dataType, TimestampType)
    ]
    rows = [r.asDict() for r in plan.collect()]
    for r in rows:
        for c in ts_cols:
            if r[c] is not None:
                r[c] = r[c].astimezone(timezone.utc)
    return rows


class QueryResult:
    """Ref query/models.py:48-60 — features as a (lazy) DataFrame here.

    `features` is the lazy plan of exactly the result page. The rows a
    serializer formats come from ONE collect, made on the first read of
    `rows`, `count` or `exceeded_transfer_limit` and cached: of `probe`
    (default: `features`), cut to `limit` rows when set — the engine
    over-fetches one row past the page so that the collect also answers
    exceededTransferLimit — then passed through `finish` (driver-side
    outSR/maxAllowableOffset shaping, id sorting; `features` itself is
    never shaped). An explicit `count` is used as is; a result with
    neither `count` nor `probe` counts `features` without collecting it
    (unbounded pages).

    Timestamp columns come back as UTC-aware datetimes. PySpark's collect
    turns a TIMESTAMP into a naive datetime in the Python process's local
    zone, which reads as a different instant wherever that zone is not
    UTC; TIMESTAMP_NTZ values stay naive wall-clock times."""

    def __init__(
        self,
        features: Optional[DataFrame] = None,
        geometry_column: str = "geometry",
        count: Optional[int] = None,
        exceeded_transfer_limit: bool = False,
        extent: Optional[dict] = None,
        probe: Optional[DataFrame] = None,
        limit: Optional[int] = None,
        finish: Optional[Callable[[list[dict]], list[dict]]] = None,
    ):
        self.features = features
        self.geometry_column = geometry_column
        # filled only for returnExtentOnly: {xmin, ymin, xmax, ymax} or
        # None when the filtered set is empty
        self.extent = extent
        self._count = count
        self._exceeded = exceeded_transfer_limit
        self._probe = probe
        self._limit = limit
        self._finish = finish
        self._rows: Optional[list[dict]] = None

    @property
    def rows(self) -> list[dict]:
        """The page as one dict per feature, collected once."""
        if self._rows is None:
            plan = self._probe if self._probe is not None else self.features
            rows = [] if plan is None else collect_rows(plan)
            if self._limit is not None:
                self._exceeded = len(rows) > self._limit
                rows = rows[: self._limit]
            self._rows = self._finish(rows) if self._finish else rows
        return self._rows

    @property
    def count(self) -> int:
        if self._count is None:
            if self._probe is None and self._rows is None:
                self._count = (
                    0 if self.features is None else self.features.count()
                )
            else:
                self._count = len(self.rows)
        return self._count

    @property
    def exceeded_transfer_limit(self) -> bool:
        if self._limit is not None:
            self.rows  # noqa: B018 - the over-fetched collect sets it
        return self._exceeded

    @classmethod
    def empty(cls) -> "QueryResult":
        return cls(features=None, count=0)

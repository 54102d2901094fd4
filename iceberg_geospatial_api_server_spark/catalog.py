"""Catalog: namespace/table discovery + feature-schema detection.

Re-expresses the reference's catalog surface
(``/root/reference/api/main.py:151-198`` — namespace/table listing via the
LakeKeeper REST catalog — and ``query/engine.py:78-187 get_table_schema``)
over a filesystem lakehouse layout: a *namespace* is a directory, a *table*
is a ``<name>.parquet`` file or a parquet directory inside it. On a real
cluster the same API is backed by the Iceberg catalog
(``session.get_spark(enable_iceberg=True)`` + ``spark.table``).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VALID_NAME = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")

# Known geometry / id column names, mirroring reference heuristics
# (query/engine.py:466-527).
_GEOM_NAMES = {"geometry", "geom", "wkb_geometry", "shape", "location"}
_ID_NAMES = {"objectid", "id", "fid", "gid", "ogc_fid"}

# engine-owned columns a persisted layer may carry: the stable OID and the
# bbox pre-filter doubles. They are never attribute fields of a layer.
INTERNAL_COLS = {"__oid", "__bbox_xmin", "__bbox_ymin", "__bbox_xmax", "__bbox_ymax"}


@dataclass
class FeatureSchema:
    """Schema of a table exposed as a feature layer (ref query/models.py:63-73)."""

    table_identifier: str
    geometry_column: str | None = None
    geometry_type: str = "Polygon"
    srid: int = 4326
    fields: list[dict] = field(default_factory=list)
    id_field: str = "objectid"
    max_record_count: int = 10000
    # computes `extent` on its first read: a full-table aggregate that the
    # query and tile handlers never need
    extent_fn: Callable[[], dict | None] | None = field(
        default=None, repr=False, compare=False
    )

    @cached_property
    def extent(self) -> dict | None:
        return self.extent_fn() if self.extent_fn is not None else None


_TYPE_MAP = {
    T.StringType: "string",
    T.IntegerType: "int32",
    T.LongType: "int64",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.DateType: "date",
    T.TimestampType: "timestamp",
    T.BinaryType: "binary",
}


class FsCatalog:
    """Filesystem-backed catalog over a lakehouse directory tree."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- discovery (ref api/main.py:151-198) --------------------------------

    def list_namespaces(self) -> list[str]:
        out = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            # a directory holding parquet part-files IS a table — don't
            # list it as a namespace and don't descend into it
            dirnames[:] = [
                d
                for d in dirnames
                if not any(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(dirpath, d))
                )
            ]
            rel = os.path.relpath(dirpath, self.root)
            if rel == ".":
                continue
            ns = rel.replace(os.sep, ".")
            if all(_VALID_NAME.match(p) for p in ns.split(".")):
                out.append(ns)
        return sorted(out)

    def list_tables(self, namespace: str = "") -> list[str]:
        d = os.path.join(self.root, namespace.replace(".", os.sep))
        if not os.path.isdir(d):
            return []
        names = []
        for entry in sorted(os.listdir(d)):
            p = os.path.join(d, entry)
            if entry.endswith(".parquet") and os.path.isfile(p):
                names.append(entry[: -len(".parquet")])
            elif os.path.isdir(p) and any(
                f.endswith(".parquet") for f in os.listdir(p)
            ):
                names.append(entry)
        return names

    def table_path(self, namespace: str, name: str) -> str:
        d = os.path.join(self.root, namespace.replace(".", os.sep)) if namespace else self.root
        p = os.path.join(d, f"{name}.parquet")
        return p if os.path.exists(p) else os.path.join(d, name)

    def load(self, name: str, namespace: str = "") -> DataFrame:
        return self.spark.read.parquet(self.table_path(namespace, name))

    def register_all(self, namespace: str = "") -> list[str]:
        """Register every table as a temp view so ``spark.sql`` works like the
        reference's DuckDB ATTACH surface (duckdb-init.sql:30-36)."""
        names = self.list_tables(namespace)
        for n in names:
            self.load(n, namespace).createOrReplaceTempView(n)
        return names


    # -- agent scratch namespaces (ref api/main.py:967-981: sessions
    # materialize results into `_scratch_{id}` schemas, dropped after the
    # session disconnects with a grace period — the grace timer is
    # transport policy; the engine capability is the lifecycle) ---------

    def scratch_namespace(self, session_id: str) -> str:
        """`_scratch_` + first 8 hex-ish chars of the dash-stripped
        session id — the reference's naming (api/main.py:971-972)."""
        short = session_id.replace("-", "")[:8]
        if not re.match(r"^[a-zA-Z0-9_]+$", short):
            raise ValueError(f"invalid session id: {session_id!r}")
        return f"_scratch_{short}"

    def create_scratch(self, session_id: str) -> str:
        """Create (idempotently) the session's scratch namespace and
        return its dotted name; tables written under it are discoverable
        like any other namespace."""
        ns = self.scratch_namespace(session_id)
        os.makedirs(os.path.join(self.root, ns), exist_ok=True)
        return ns

    def drop_scratch(self, session_id: str) -> None:
        """Drop the session's scratch namespace and everything in it —
        DROP SCHEMA ... CASCADE analog. Refuses to touch anything that is
        not a `_scratch_*` directory directly under the catalog root, and
        is a no-op when the namespace never materialized (ref swallows
        the same way, api/main.py:979-981)."""
        import shutil

        ns = self.scratch_namespace(session_id)
        path = os.path.realpath(os.path.join(self.root, ns))
        root = os.path.realpath(self.root)
        if os.path.dirname(path) != root or not os.path.basename(
            path
        ).startswith("_scratch_"):
            raise ValueError(f"refusing to drop non-scratch path: {path}")
        if os.path.isdir(path):
            shutil.rmtree(path)

    def namespaces_tree(self) -> list[list[str]]:
        """Namespaces as path arrays, including nested levels
        (ref api/main.py:165-180 /api/namespaces/tree)."""
        return [ns.split(".") for ns in self.list_namespaces()]

    def namespace_extent(self, namespace: str = "") -> dict | None:
        """Aggregate bbox across every geometry table in a namespace
        (ref api/main.py:225-263 /api/bbox/{namespace}): per-table extents
        via the decoded-bbox MIN/MAX aggregate, folded on the driver.
        Returns {"bbox": [xmin, ymin, xmax, ymax]} or None when the
        namespace holds no geometry."""
        from iceberg_geospatial_api_server_spark.geo.functions import extent

        extents = []
        for name in self.list_tables(namespace):
            df = self.load(name, namespace)
            if detect_geometry_column(df.schema) is None:
                continue
            row = extent(df).first()
            if row is not None and row["xmin"] is not None:
                extents.append((row["xmin"], row["ymin"], row["xmax"], row["ymax"]))
        if not extents:
            return None
        return {
            "bbox": [
                min(e[0] for e in extents),
                min(e[1] for e in extents),
                max(e[2] for e in extents),
                max(e[3] for e in extents),
            ]
        }

    def table_files(self, namespace: str = "") -> DataFrame:
        """Data-file manifest per table — the filesystem analog of the
        Iceberg `.files` metadata table (cookbook §1.7: file_path,
        file_format, record_count, file_size_in_bytes)."""
        import pyarrow.parquet as pq

        rows = []
        for name in self.list_tables(namespace):
            path = self.table_path(namespace, name)
            files = (
                [path]
                if os.path.isfile(path)
                else [
                    os.path.join(path, f)
                    for f in sorted(os.listdir(path))
                    if f.endswith(".parquet")
                ]
            )
            for f in files:
                meta = pq.ParquetFile(f).metadata
                rows.append(
                    (name, f, "parquet", meta.num_rows, os.path.getsize(f))
                )
        return self.spark.createDataFrame(
            rows,
            "tbl string, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long",
        )

    def row_counts(self, namespace: str = "") -> DataFrame:
        """Feature count per table (cookbook §2.2 UNION ALL counts)."""
        dfs = [
            self.load(n, namespace)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(n).alias("tbl"), "n")
            for n in self.list_tables(namespace)
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out


# -- schema detection (ref query/engine.py:466-527) --------------------------


def detect_geometry_column(schema: T.StructType) -> str | None:
    """Geometry column = known name with binary type, else first binary col."""
    for f in schema.fields:
        if f.name.lower() in _GEOM_NAMES and isinstance(f.dataType, T.BinaryType):
            return f.name
    for f in schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            return f.name
    return None


def detect_id_field(schema: T.StructType) -> str:
    for f in schema.fields:
        if f.name.lower() in _ID_NAMES:
            return f.name
    for f in schema.fields:
        if isinstance(f.dataType, (T.IntegerType, T.LongType)):
            return f.name
    return "objectid"


def feature_schema(df: DataFrame, table_identifier: str = "table") -> FeatureSchema:
    """Build a FeatureSchema from a DataFrame (ref get_table_schema).

    A geometry column that declares exactly one type in its field metadata
    (`{"geometry_types": [...]}`, as `sources.geo_layer` writes at ingest)
    runs no Spark job: the type comes from the schema. Otherwise the only
    job is the geometry-type probe (one non-null geometry). The extent is
    an aggregate over the whole table, computed on the first read of
    `FeatureSchema.extent`. Fields omit the geometry and the engine's
    internal columns. max_record_count follows the reference's adaptive
    policy (engine.py:172-174: 500 for polygons else 10000).
    """
    geom_col = detect_geometry_column(df.schema)
    fields = []
    for f in df.schema.fields:
        if f.name == geom_col or f.name in INTERNAL_COLS:
            continue
        simple = "string"
        for cls, name in _TYPE_MAP.items():
            if isinstance(f.dataType, cls):
                simple = name
                break
        fields.append({"name": f.name, "type": simple, "alias": f.name})

    geometry_type = "Polygon"
    extent_fn = None
    max_records = 10000
    if geom_col is not None:
        from iceberg_geospatial_api_server_spark.geo import functions as geo_f
        from iceberg_geospatial_api_server_spark.geo import wkb as wkb_mod

        declared = geo_f.declared_geometry_types(df, geom_col)
        if len(declared) == 1:
            geometry_type = declared[0]
        else:
            sample = (
                df.select(geom_col).filter(F.col(geom_col).isNotNull()).head(1)
            )
            if sample:
                geometry_type = wkb_mod.geometry_type_name(sample[0][0])

        def extent_fn() -> dict | None:
            row = geo_f.extent(df, geom_col).head(1)
            if row and row[0]["xmin"] is not None:
                return row[0].asDict()
            return None

        max_records = 500 if geometry_type in ("Polygon", "MultiPolygon") else 10000

    return FeatureSchema(
        table_identifier=table_identifier,
        geometry_column=geom_col,
        geometry_type=geometry_type,
        fields=fields,
        id_field=detect_id_field(df.schema),
        max_record_count=max_records,
        extent_fn=extent_fn,
    )

"""The lineitem point layer, published once per source and served from disk.

`lineitem_bbox_layer` publishes `synthetic.lineitem_point_geoms` through
`ingest.write_geoparquet`, the package's one write path of a served layer.
This module owns only what is particular to that layer: the on-disk cache
key (source path, content identity and `_LAYER_VERSION`: the
persisted-signature-store contract the dedup family uses), the
per-session memo (`_LAYERS`: a re-resolve costs a stat and an 8 KB hash,
not a parquet read) and the DSv2 read whose footer-stats MIN/MAX answers
the layer's extent.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

# bump when the layer's schema/derivation changes — part of the cache key
_LAYER_VERSION = 5

# (applicationId, layer path) → (the layer's _SUCCESS stamp, DataFrame).
# A fresh read costs a Spark job for parquet's schema inference, a file
# listing and the useV1SourceList flip below; a layer path names immutable
# content (the digest), so one read per session serves every request, the
# way `sources.tables._TABLE_CACHE` serves tables. The stamp (inode and
# mtime of _SUCCESS) makes a directory rebuilt at the same path miss.
_LAYERS: dict[tuple[str, str], tuple[tuple[int, int], DataFrame]] = {}

# serializes writes to _LAYERS and the session-conf useV1SourceList flip
# below: the flip mutates SHARED SparkSession state, and a concurrent
# thread planning a parquet read inside the flip window would get a DSv2
# relation — exactly the cross-query plan-shape drift the flip's
# scoping exists to prevent (ADVICE r6). The lock covers the mutation
# itself; a concurrent read elsewhere in the session is still exposed
# for the duration of one load() — callers running multi-threaded
# drivers should pre-build the layer once at startup.
_V1_FLIP_LOCK = threading.Lock()


def lineitem_bbox_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem point layer with PERSISTED __bbox_* and __oid columns
    and declared `geometry_types`, published (`ingest.write_geoparquet`) on
    first use per source dir. Returns a DataFrame over the materialized
    parquet: the same object on every call of one session while the
    source and the built layer are unchanged (`_LAYERS`)."""
    from iceberg_geospatial_api_server_spark.sources.ingest import (
        write_geoparquet,
    )
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )
    from iceberg_geospatial_api_server_spark.sources.tables import load_table
    from iceberg_geospatial_api_server_spark.util import spread

    # cache key covers the source path AND its content identity AND a
    # builder version tag: a regenerated corpus at the same path, or a
    # change to the ingest logic, must MISS rather than silently serve
    # the previous layer. Content identity = size + the parquet head
    # (magic + first row-group start) + tail (footer metadata, which
    # embeds row counts and column stats) — this catches a corpus
    # regenerated with identical size and restored mtime (rsync -a,
    # archive extraction), which size|mtime alone would not.
    src = os.path.join(os.path.abspath(sf_dir), "lineitem.parquet")
    st = os.stat(src)
    # mtime stays IN the key alongside the content probe (strictly
    # stronger): a rewrite whose size, first 4KB, and last 4KB all
    # coincide would otherwise collide, and mtime catches any rewrite
    # that didn't deliberately restore it
    h = hashlib.md5(
        f"{src}|{st.st_size}|{st.st_mtime_ns}|{_LAYER_VERSION}".encode()
    )
    with open(src, "rb") as f:
        h.update(f.read(4096))
        f.seek(max(0, st.st_size - 4096))
        h.update(f.read(4096))
    digest = h.hexdigest()[:16]
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_layers", f"li_bbox_{digest}"
    )
    key = (spark.sparkContext.applicationId, path)
    hit, stamp = _LAYERS.get(key), _stamp(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    if stamp is None:
        # a dest dir WITHOUT _SUCCESS is a crashed/partial build: the
        # publish replaces it, so we never read a suspect layer
        write_geoparquet(
            lineitem_point_geoms(
                spread(load_table(spark, sf_dir, "lineitem"), None)
            ).select("geometry", "l_orderkey", "l_linenumber", "l_quantity"),
            path,
        )
    # read the layer through the DSv2 parquet source: parquet sits in
    # spark.sql.sources.useV1SourceList by default and the v1 relation
    # IGNORES spark.sql.parquet.aggregatePushdown (ADVICE r5) — the
    # footer-stats MIN/MAX answering this module exists for only happens
    # on a v2 BatchScan. The v1/v2 choice bakes into the relation at
    # load() time, so scoping the flip to this one read keeps every
    # other query's plan shape untouched (tests/test_plans.py asserts
    # the resulting PushedAggregation).
    flip = "spark.sql.sources.useV1SourceList"
    with _V1_FLIP_LOCK:
        prev = spark.conf.get(flip)
        try:
            spark.conf.set(
                flip,
                ",".join(
                    s for s in prev.split(",") if s.strip() != "parquet"
                ),
            )
            df = spark.read.parquet(path)
        finally:
            spark.conf.set(flip, prev)
        # plans of stopped sessions are dead weight
        for k in [k for k in _LAYERS if k[0] != key[0]]:
            del _LAYERS[k]
        _LAYERS[key] = (_stamp(path), df)
    return df


def _stamp(path: str) -> tuple[int, int] | None:
    """(inode, mtime) of the layer's _SUCCESS marker; None while the layer
    is unbuilt."""
    try:
        st = os.stat(os.path.join(path, "_SUCCESS"))
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns

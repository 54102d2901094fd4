"""Per-layer metrics of a traced run.

Every workload reports every name in PER_LAYER; a layer the workload never
calls reports 0. Times are medians per call over the timed window unless
the name says otherwise. Spark runs lazily, so a span's time includes any
action its function triggers: the serializer spans include re-executing
the page query, and `geo.clip_features` (which only builds a plan) is
near zero while `serializers.mvt` carries the clip's execution.
"""

from __future__ import annotations

import json

from perfbench import decode
from perfbench.common import median

SERVED = [
    ("sources.layer_resolve_ms", "ms"),
    ("catalog.feature_schema_ms", "ms"),
    ("catalog.feature_schema_jobs", "count"),
    ("engine.with_oid_ms", "ms"),
    ("engine.with_oid_jobs", "count"),
    ("engine.query_features_ms", "ms"),
    ("engine.query_features_jobs", "count"),
    ("serializers.esri_json_ms", "ms"),
    ("serializers.esri_pbf_ms", "ms"),
    ("serializers.geojson_ms", "ms"),
    ("serializers.page_jobs", "count"),
    ("serializers.mvt_ms", "ms"),
    ("serializers.mvt_jobs", "count"),
    ("geo.clip_features_ms", "ms"),
    ("serializers.response_bytes", "bytes"),
    ("spark.jobs_per_request", "count"),
    ("spark.stages_per_request", "count"),
    ("spark.task_ms_per_request", "ms"),
    ("spark.rows_read_per_feature", "ratio"),
    ("map.page_p50_ms", "ms"),
    ("map.count_p50_ms", "ms"),
    ("map.tile_p50_ms", "ms"),
]
PUBLISH = [
    ("sources.read_geojson_ms", "ms"),
    ("sources.write_geoparquet_ms", "ms"),
    ("sources.read_geoparquet_ms", "ms"),
    ("sources.publish_jobs", "count"),
    ("sources.parse_tasks", "count"),
    ("sources.write_amplification", "ratio"),
    ("sources.stored_bytes_per_feature", "bytes"),
    ("publish.publish_p50_s", "s"),
    ("publish.features_per_s", "1/s"),
]
BATCH_MODULES = [
    "dedup", "ann", "text", "graph", "sketches", "sampling", "skew",
    "multimodal", "relational", "geo",
]
BATCH = [(f"operators.{m}_s", "s") for m in BATCH_MODULES] + [
    ("registry.batch_s", "s"),
    ("registry.build_s", "s"),
    ("registry.exec_s", "s"),
    ("spark.jobs_per_row", "count"),
    ("spark.shuffle_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.executor_busy_ratio", "ratio"),
]
SETUP = [
    ("setup.session_s", "s"),
    ("setup.layer_build_s", "s"),
    ("setup.warmup_s", "s"),
]
# the metrics every workload reports; layer_publish adds PUBLISH
PER_LAYER = SERVED + BATCH + SETUP


def module_family(module: str) -> str:
    """registry_rows.json module -> BATCH_MODULES entry. The pass's one
    row that enters no operators module (geo_pip_join_count) is a geo row."""
    if module.startswith("operators."):
        return module.split(".", 1)[1]
    return "geo"


def _ms(spans):
    return median([s.ms for s in spans])


def _jobs(spans):
    return median([len(s.jobs) for s in spans])


def _n_features(payload) -> int:
    """Features (or ids) in a page response."""
    if isinstance(payload, bytes):
        return len(decode.esri_pbf(payload)["features"])
    return len(payload.get("features", payload.get("objectIds", [])))


def _size(payload) -> int:
    if isinstance(payload, bytes):
        return len(payload)
    return len(json.dumps(payload, default=str))


def per_layer(wl, tracer, timed: list[dict], info: dict) -> dict:
    names = PER_LAYER + (PUBLISH if wl.name == "layer_publish" else [])
    out = {name: 0.0 for name, _ in names}
    timed_rids = {r["rid"] for r in timed}
    spans = [s for s in tracer.spans if s.request in timed_rids]

    def named(name):
        return [s for s in spans if s.name == name]

    requests = {s.request: s for s in spans if s.name == "request"}
    ok = {r["rid"]: r for r in timed if r["ok"]}

    out["setup.session_s"] = info["session_s"]
    out["setup.layer_build_s"] = info.get("layer_build_s", 0.0)
    out["setup.warmup_s"] = info["warmup_s"]

    if wl.name in ("map_session", "layer_publish"):
        out["catalog.feature_schema_ms"] = _ms(named("catalog.feature_schema"))
        out["catalog.feature_schema_jobs"] = _jobs(named("catalog.feature_schema"))
    if wl.name == "map_session":
        out["sources.layer_resolve_ms"] = _ms(named("sources.layer_resolve"))
        for n in ("with_oid", "query_features"):
            out[f"engine.{n}_ms"] = _ms(named(f"engine.{n}"))
            out[f"engine.{n}_jobs"] = _jobs(named(f"engine.{n}"))
        ser = []
        for n in ("esri_json", "esri_pbf", "geojson"):
            out[f"serializers.{n}_ms"] = _ms(named(f"serializers.{n}"))
            ser += named(f"serializers.{n}")
        out["serializers.page_jobs"] = _jobs(ser)
        out["serializers.mvt_ms"] = _ms(named("serializers.mvt"))
        out["serializers.mvt_jobs"] = _jobs(named("serializers.mvt"))
        out["geo.clip_features_ms"] = _ms(named("geo.clip_features"))
        req_ok = [requests[r] for r in ok if r in requests]
        out["spark.jobs_per_request"] = _jobs(req_ok)
        out["spark.stages_per_request"] = median([s.stages for s in req_ok])
        out["spark.task_ms_per_request"] = median([s.task_ms for s in req_ok])
        pages = [(requests[r], ok[r]) for r in ok
                 if ok[r]["req"]["cls"] == "page" and r in requests]
        ratios = [s.input_rows / max(1, _n_features(res["payload"]))
                  for s, res in pages]
        out["spark.rows_read_per_feature"] = median(ratios)
        out["serializers.response_bytes"] = median(
            [_size(res["payload"]) for res in ok.values()
             if res["req"]["cls"] in ("page", "tile")])
        for cls in ("page", "count", "tile"):
            out[f"map.{cls}_p50_ms"] = median(
                [r["s"] * 1000.0 for r in ok.values() if r["req"]["cls"] == cls])
    if wl.name == "layer_publish":
        from perfbench.layer_publish import stored_bytes

        out["sources.read_geojson_ms"] = _ms(named("sources.read_geojson"))
        out["sources.write_geoparquet_ms"] = _ms(named("sources.write_geoparquet"))
        out["sources.read_geoparquet_ms"] = _ms(named("sources.read_geoparquet"))
        req_ok = [requests[r] for r in ok if r in requests]
        out["sources.publish_jobs"] = _jobs(req_ok)
        writes = {s.request: s for s in named("sources.write_geoparquet")}
        parse = [writes[r].max_input_tasks for r in ok
                 if r in writes and ok[r]["req"]["path"].endswith(".geojson")]
        out["sources.parse_tasks"] = median(parse)
        written = stored = feats = 0
        for r, res in ok.items():
            if r in writes:
                w = writes[r]
                written += w.output_bytes + w.extra.get("py_write_bytes", 0)
            stored += stored_bytes(res["req"]["out"])
            feats += res["req"]["n"]
        out["sources.write_amplification"] = written / max(1, stored)
        out["sources.stored_bytes_per_feature"] = stored / max(1, feats)
        out["publish.publish_p50_s"] = median([r["s"] for r in ok.values()])
        out["publish.features_per_s"] = feats / max(
            1e-9, sum(r["s"] for r in ok.values()))
    if wl.name == "registry_batch":
        cores = info["cores"]
        passes: dict[int, dict] = {}
        for res in timed:
            rid = res["rid"]
            p = passes.setdefault(res["round"], {
                "mods": {m: 0.0 for m in BATCH_MODULES}, "batch": 0.0,
                "build": 0.0, "exec": 0.0, "jobs": 0, "rows": 0,
                "shuffle": 0, "spill": 0, "task_ms": 0.0})
            p["mods"][module_family(res["req"]["module"])] += res["s"]
            p["batch"] += res["s"]
            p["rows"] += 1
            req = requests.get(rid)
            if req is not None:
                p["jobs"] += len(req.jobs)
                p["shuffle"] += req.shuffle_bytes
                p["spill"] += req.spill_bytes
                p["task_ms"] += req.task_ms
            for s in spans:
                if s.request == rid and s.name == "registry.build":
                    p["build"] += s.ms / 1000.0
                elif s.request == rid and s.name == "registry.exec":
                    p["exec"] += s.ms / 1000.0
        ps = list(passes.values())
        for m in BATCH_MODULES:
            out[f"operators.{m}_s"] = median([p["mods"][m] for p in ps])
        out["registry.batch_s"] = median([p["batch"] for p in ps])
        out["registry.build_s"] = median([p["build"] for p in ps])
        out["registry.exec_s"] = median([p["exec"] for p in ps])
        out["spark.jobs_per_row"] = median([p["jobs"] / p["rows"] for p in ps])
        out["spark.shuffle_mb"] = median([p["shuffle"] / 1e6 for p in ps])
        out["spark.spill_mb"] = median([p["spill"] / 1e6 for p in ps])
        out["spark.executor_busy_ratio"] = median(
            [p["task_ms"] / max(1e-9, p["exec"] * 1000.0 * cores) for p in ps])
    units = dict(names)
    return {k: (float(v), units[k]) for k, v in out.items()}


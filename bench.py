"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "duckdb_sec": {...}, "duckdb_ratio": <spark/duckdb over shared>,
   "duckdb_shared_queries": <n>}
and keeps the full artifact as BENCH_local_c<CPUS>.json next to this file.
The next run at the same core count and scale factor reads that file back
and flags, under "ratio_outliers_vs_prev", any query whose DuckDB ratio
moved 3x or more either way.
The DuckDB reference comparison runs by default (pass --no-duckdb to
skip; a missing duckdb module degrades to a Spark-only artifact with a
"duckdb_skipped" marker): the recorded artifact carries the baseline-bar
number itself. The DuckDB side executes as TWO full passes bracketing the
Spark pass with per-query MIN across both, and the artifact carries a
per-query ratio table ("duckdb_ratio_per_query") — so the recorded ratio
is reproducible against host-state noise and drifts are attributable.
The host-noise resampling guard is SYMMETRIC: each engine gets up
to 2 extra samples for a query whose min exceeds 3× the other engine's
timing of the same work (Spark keyed on the DuckDB pre-pass, the DuckDB
post-pass keyed on the recorded Spark mins) — no knob can move the
ratio in only one direction.

Query set = the scale-representative operators (scan-heavy agg, multi-join,
window/sessionize, spatial grid + join + knn, dedup, ANN, text profile) —
each exercises a distinct physical-plan shape; see SURVEY.md §6.

Timing protocol (disclosed, applied to BOTH engines): each query executes
twice — plus a third run only when the first two disagree by >50%
(state-dependent outliers: GC, worker churn) — and reports the MIN. Run 1 pays one-time costs that amortize to zero
in any long-lived deployment — Spark's per-query Catalyst analysis + Janino
whole-stage-codegen compile (~0.3-1s on a cold plan), DuckDB's cold buffer
cache. Run 2 is the steady-state per-query cost, which is what a
throughput comparison at scale is about. The action is a noop-format write
(full materialization of every output column — count() would let Catalyst
prune deterministic projections and time only the scan). Lazy entries
build their DataFrame ONCE outside the timer (prepared-statement
semantics — rebuilding the Python expression tree per rep is py4j client
chatter, not engine work; analysis through execution still runs per rep);
entries that do driver-looped work at construction (EAGER_ENTRIES)
rebuild inside the timer so that work is counted every rep.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q13_customer_distribution",
    "q16_supplier_part_count",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q19_disjunctive",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "top3_orders_per_priority",
    "orders_brand_affinity",
    "events_windowed_agg",
    "events_sessionize",
    "asof_join_events_orders",
    "geo_knn",
    "geo_grid_aggregate",
    "geo_pip_join_count",
    "geo_extent",
    "geo_nearest_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_minhash_stats",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivfpq_topk",
    "text_profile",
    "text_ngram_topk",
    "text_repetition_profile",
    "corpus_token_budget",
    "doc_chunks",
    "corpus_clean",
    "corpus_curate",
    "corpus_split",
    "corpus_decontaminate",
    "corpus_segment_dedup",
    "text_dup_spans",
    "corpus_perplexity",
    "corpus_pii_scrub",
    "text_gopher_rules",
    "embed_dim_stats",
    "embed_pca_project",
    "mm_phash_pairs",
    "text_tfidf_topk",
    "corpus_epoch_order",
    "pack_sequences",
    "embed_quantize_int8",
    "events_outliers",
    "events_outliers_mad",
    "corpus_source_stats",
    "cross_source_overlap",
    "events_distinct_salted",
    "mm_media_stats",
    # each row below adds a physical-plan shape the rows above lack:
    # iterative level-rollup, sliding-frame window + lag run-dedup,
    # stacked running-sum/min windows, the degree-oriented double
    # self-join triangle census, driver-looped integer k-means, wedge
    # equi-join link prediction, theta-sketch intersection, per-key skew
    # profiling, mergeable heavy-hitters, broadcast-probe hard-negative
    # mining, explode-spine + LOCF gapfill, vocab-collapse + blocked
    # quadratic entity resolution. Entries that repeat a benched shape
    # stay out, as do contract oracles, whose cost is their assert
    # machinery rather than a recurring production query.
    "geo_tile_pyramid",
    "text_winnow_fingerprints",
    "events_cusum",
    "graph_triangles",
    "embed_kmeans_stats",
    "graph_common_neighbors",
    "events_theta_retention",
    "lineitem_key_skew",
    "events_topk_sketch",
    "embed_hard_negatives",
    "events_gapfill_ffill",
    "part_entity_resolution",
    # the production SCD2 merge alone: scd2_merge_apply materializes the
    # dimension and the change batch to parquet outside the timer (a
    # stored dimension is not rebuilt per merge) and times only the
    # recurring apply; DuckDB runs the same merge SQL over the same
    # tables, so the ratio compares the apply against the apply
    "scd2_merge_apply",
]

# entries whose CONSTRUCTION runs Spark jobs (driver-looped iterations,
# eager index builds, bounded dim-side collects) — verified empirically
# via statusTracker job counts during a build with warm table caches.
# These rebuild inside the timer every rep so the recurring work is
# counted; everything else is a pure lazy plan and is built once.
EAGER_ENTRIES = {
    "geo_pip_join_count",   # bounded polygon-dim collect
    "geo_extent",           # persisted-layer freshness check + v2 listing
    "geo_nearest_join",     # dim-side collect for the broadcast kernel
    "ann_ivfpq_topk",       # IVF-PQ index build (kmeans_fit + codebooks)
    "embed_pca_project",    # d×d moment-matrix collect
    "embed_kmeans_stats",   # Lloyd iterations (seed + update collects)
    # entries whose CONSTRUCTION registers persists (cache-manager scan
    # with warm tables): under build-once, rep 1 would populate the
    # cache, clearCache() would unregister it, and reps 2+ would time a
    # different (uncached, recompute-per-consumer) plan than both rep 1
    # and the documented steady state — rebuild per rep so every rep
    # pays and uses its own persist
    "dedup_minhash_lsh",
    "dedup_simhash",
}


SCD2_APPLY_ORACLE = """
WITH bk AS (SELECT DISTINCT user_id FROM scd2_batch),
unt AS (
  SELECT d.* FROM scd2_dim d
  WHERE d.user_id NOT IN (SELECT user_id FROM bk)
),
closed AS (
  SELECT d.* FROM scd2_dim d
  WHERE d.user_id IN (SELECT user_id FROM bk) AND NOT is_current
),
reo AS (
  SELECT user_id, eff_from_us AS ts_us, attr FROM scd2_dim
  WHERE user_id IN (SELECT user_id FROM bk) AND is_current
),
uni AS (
  SELECT * FROM reo
  UNION ALL SELECT user_id, ts_us, attr FROM scd2_batch
),
dd AS (
  SELECT user_id, ts_us, attr,
         LAG(attr) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
  FROM uni
),
kept AS (
  SELECT user_id, ts_us, attr FROM dd
  WHERE prev IS NULL OR attr <> prev
),
rec AS (
  SELECT user_id, attr, ts_us AS eff_from_us,
         LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
           AS eff_to_us,
         LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
           IS NULL AS is_current
  FROM kept
)
SELECT user_id, attr, eff_from_us, eff_to_us, is_current FROM unt
UNION ALL
SELECT user_id, attr, eff_from_us, eff_to_us, is_current FROM closed
UNION ALL
SELECT user_id, attr, eff_from_us, eff_to_us, is_current FROM rec
"""


def _prepare_scd2_merge_apply(spark):
    """Materialize the SCD2 dimension + change batch to parquet OUTSIDE
    the timer: the recurring production shape is
    `scd2_merge(stored_dim, batch)`, not a rebuild of the dimension.
    Returns (spark_plan, duckdb_views) — the plan reads the materialized
    tables, so every rep times analysis→execution of the APPLY alone;
    the same tables back the DuckDB merge SQL (SCD2_APPLY_ORACLE) for a
    like-for-like ratio."""
    import tempfile

    from pyspark.sql import functions as F

    from iceberg_geospatial_api_server_spark.operators.relational import (
        scd2_from_changelog,
        scd2_merge,
    )
    from iceberg_geospatial_api_server_spark.sources.tables import load_table
    from iceberg_geospatial_api_server_spark.util import epoch_of

    events = load_table(spark, SF_DIR, "events").filter(
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
    lo, hi = cl.agg(F.min(day), F.max(day)).first()
    cutoff_us = ((lo + hi) // 2 + 1) * 86_400_000_000
    base = tempfile.mkdtemp(prefix="bench_scd2_apply_")
    dim_path = os.path.join(base, "dim")
    batch_path = os.path.join(base, "batch")
    scd2_from_changelog(
        cl.filter(F.col("ts_us") < F.lit(cutoff_us))
    ).write.parquet(dim_path)
    cl.filter(F.col("ts_us") >= F.lit(cutoff_us)).write.parquet(
        batch_path
    )
    plan = scd2_merge(
        spark.read.parquet(dim_path), spark.read.parquet(batch_path)
    )
    return plan, {"scd2_dim": dim_path, "scd2_batch": batch_path}


def main() -> None:
    # quiet-host guard: bench runs ALONE — concurrent load poisons the
    # Spark side of the ratio only (DuckDB's brackets straddle it).
    # Measured BEFORE the SparkSession exists so our own warmup doesn't
    # count.
    # If the host is busy, WAIT (up to $SPARK_GRAFT_LOAD_WAIT sec,
    # default 300, poll 10s) for loadavg to fall under the threshold;
    # if it never does, proceed but stamp a loud "load_warning" into
    # the artifact so the number can never be quoted as record-quality.
    load_thresh = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "1.0"))
    load_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    pre_spark_load = None
    try:
        pre_spark_load = os.getloadavg()[0]
        waited = 0.0
        while pre_spark_load > load_thresh and waited < load_wait:
            print(
                f"# host busy (loadavg {pre_spark_load:.2f} > "
                f"{load_thresh}); waiting for quiet "
                f"({waited:.0f}/{load_wait:.0f}s)",
                file=sys.stderr,
            )
            time.sleep(10)
            waited += 10
            pre_spark_load = os.getloadavg()[0]
        pre_spark_load = round(pre_spark_load, 2)
    except OSError:
        pass

    from iceberg_geospatial_api_server_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # warm the JVM and the Arrow/python worker pool once (excluded from
    # timings): one JVM query plus one of each pandas-UDF execution kind,
    # so no timed query pays the one-time worker spin-up. The pandas job
    # runs CPUS single-row partitions so every worker slot pre-forks —
    # a 1-partition warmup spawns only ONE worker and the first CPUS-task
    # Python stage then pays ~2s forking the other 31 inside the timer
    # (measured: geo_extent 2.98s -> 1.13s). A standing worker pool is
    # the steady state of any long-lived deployment (spark.python.worker.reuse
    # is on by default).
    qs["q1_pricing_summary"](spark, SF_DIR).collect()
    # warm every table handle (memoized spark.read.parquet) so the
    # lazy-build job check below never sees a first-load schema-
    # inference job and misclassifies a pure plan as eager
    from iceberg_geospatial_api_server_spark.sources.tables import (
        TABLE_NAMES,
        load_table,
    )

    for t in TABLE_NAMES:
        load_table(spark, SF_DIR, t)
    from pyspark.sql.functions import pandas_udf

    spark.range(0, CPUS, 1, CPUS).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    @pandas_udf("double")
    def _warm_udf(s):
        return s

    warm = spark.range(0, CPUS, 1, CPUS).selectExpr("CAST(id AS DOUBLE) x")
    warm.select(_warm_udf("x")).collect()

    def time_once(fn) -> float:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        # drop persisted intermediates (minhash/simhash signature caches)
        # between runs, OUTSIDE the timer: each rep pays its own persists
        # and no cross-rep reuse, and — measured — stale CacheManager
        # entries tax every LATER query's plan-matching
        # (corpus_clean 0.92s -> 5.64s with two dedup caches live)
        spark.catalog.clearCache()
        return dt

    # first DuckDB bracket runs BEFORE the Spark loop (see the noise-
    # hardening note below); a missing duckdb module degrades to a
    # Spark-only artifact instead of crashing
    skip_duckdb = "--no-duckdb" in sys.argv
    sys_argv_skipped_reason = None
    try:  # host state at start — bursts poison the Spark side only
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None
    # prepared entries: materialize outside the timer, BEFORE the
    # DuckDB pre-pass so both engines see the same tables
    prepared_plans: dict = {}
    extra_views: dict = {}
    extra_oracles: dict = {}
    if "scd2_merge_apply" in BENCH_QUERIES:
        plan, views = _prepare_scd2_merge_apply(spark)
        prepared_plans["scd2_merge_apply"] = plan
        extra_views.update(views)
        extra_oracles["scd2_merge_apply"] = SCD2_APPLY_ORACLE

    dd_pre = None
    if not skip_duckdb:
        try:
            dd_pre, _ = _duckdb_reference_timings(
                extra_views=extra_views, extra_oracles=extra_oracles
            )
        except ImportError:
            skip_duckdb = True
            sys_argv_skipped_reason = "duckdb not installed"

    # runtime enforcement of the lazy/eager split: the
    # EAGER_ENTRIES list is empirical, so VERIFY it — a lazy build that
    # runs jobs or registers persists would otherwise mis-time reps 2+
    # (cache populated on rep 1, cleared, then recomputed-per-consumer).
    # Any entry that trips the check is promoted to eager on the spot,
    # loudly.
    status = spark.sparkContext.statusTracker()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    def _build_checked(name):
        before = len(status.getJobIdsForGroup(None) or [])
        df = qs[name](spark, SF_DIR)
        dirty = (
            len(status.getJobIdsForGroup(None) or []) > before
            or not cache_mgr.isEmpty()
        )
        if dirty:
            print(
                f"# {name}: construction ran jobs/persists — "
                "promoted to eager timing",
                file=sys.stderr,
            )
            spark.catalog.clearCache()
        return df, dirty

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        df = None
        if name in prepared_plans:
            # prepared entry: the plan reads pre-materialized parquet
            # (built once, outside the timer, by design);
            # it is a pure lazy plan like any registered view
            df = prepared_plans[name]
        elif name not in EAGER_ENTRIES:
            # lazy entry: the DataFrame is a pure plan (verified by the
            # check above). Build it ONCE outside the timer and time the
            # execution — the Spark analogue of a prepared statement /
            # registered view, which is how a recurring query runs in
            # any real deployment. Rebuilding the Python expression tree
            # per rep measured 0.1-0.35s of pure py4j client chatter per
            # query (×~56 queries ≈ 6-9s of the headline) that no engine
            # executes. Analysis, optimization, physical planning,
            # codegen, and execution all still run inside the timer on
            # every rep (each .save() call re-plans the action).
            df, dirty = _build_checked(name)
            if dirty:
                EAGER_ENTRIES.add(name)
                df = None
        if df is None:
            # eager entry: the entry call itself does driver-looped work
            # (Lloyd iterations, index builds, bounded dim collects,
            # construction-time persists) that a recurring run re-pays —
            # rebuild INSIDE the timer so that work is counted every rep
            run = lambda: qs[name](spark, SF_DIR).write.format(  # noqa: E731
                "noop"
            ).mode("overwrite").save()
        else:
            prepared = df
            run = lambda: prepared.write.format(  # noqa: E731
                "noop"
            ).mode("overwrite").save()
        samples = [time_once(run), time_once(run)]
        if max(samples) > 1.5 * min(samples):  # outlier: settle with a 3rd
            samples.append(time_once(run))
        # host-noise guard (disclosed, min-estimator only, SYMMETRIC):
        # this machine shows bursty multi-second contention episodes
        # (observed 2-6× inflation lasting minutes) that can swallow BOTH
        # reps of a query. When the OTHER engine's timing of the same work
        # says this engine's min looks poisoned (>3× and non-trivial),
        # take up to two more samples — more samples of the same
        # distribution, a strictly better estimate of the same MIN
        # statistic both engines report. The IDENTICAL rule runs on the
        # DuckDB side: the post-pass resamples any query whose DuckDB min
        # exceeds 3× the recorded Spark min
        # (_duckdb_reference_timings(spark_ref=...)), so the knob moves
        # the ratio in BOTH directions and neither engine enjoys a retry
        # the other is denied.
        if dd_pre is not None:
            ref = dd_pre.get(name)
            extra = 0
            while (
                ref is not None
                and min(samples) > max(0.5, 3.0 * ref)
                and extra < 2
            ):
                samples.append(time_once(run))
                extra += 1
        timings[name] = round(min(samples), 3)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": CPUS,
    }

    # DuckDB comparison runs BY DEFAULT so the recorded artifact itself
    # carries the bar number (total Spark sec / total DuckDB sec over
    # the shared oracle-bearing queries — the SURVEY §6 protocol number,
    # ≤2.0 = pass); --no-duckdb skips it for Spark-only iteration.
    # Noise hardening: the DuckDB side runs as TWO full passes bracketing
    # the Spark pass (one ran above, before the Spark loop; one here,
    # after), per-query MIN across both — host-state noise (cache pressure
    # from the co-resident JVM, CPU thermal state) hits whichever pass is
    # unlucky, and the min of the brackets is what a fair same-host
    # measurement looks like. Per-query ratios land in the artifact so a
    # drift is attributable to a query, not the total.
    try:  # mid-run stamp: host state right after the Spark pass — a
        # burst starting mid-run shows up here even when the pre-Spark
        # probe was quiet
        load_post_spark = round(os.getloadavg()[0], 2)
    except OSError:
        load_post_spark = None
    if not skip_duckdb and dd_pre is not None:
        dd_post, dd_suspects = _duckdb_reference_timings(
            spark_ref=timings,
            extra_views=extra_views,
            extra_oracles=extra_oracles,
        )
        dd = {n: min(dd_pre[n], dd_post[n]) for n in dd_pre}
        out["duckdb_sec"] = dd
        shared = [n for n in dd if n in timings]
        d_tot = sum(dd[n] for n in shared)
        s_tot = sum(timings[n] for n in shared)
        out["duckdb_ratio_per_query"] = {
            n: (round(timings[n] / dd[n], 2) if dd[n] > 0 else None)
            for n in shared
        }
        # burst annotation: a per-query ratio that moved >=3x in EITHER
        # direction against the previous run's anchor is flagged with both
        # values so the table is readable without the SURVEY narrative.
        # The key is HISTORY, not the raw cross-engine ratio: sub-second
        # scheduling-floor rows run 10-100x DuckDB every round by design
        # and are not noise. Flags with spark-side times under 0.3s are
        # suppressed (jitter at the scheduling floor).
        hist = _latest_recorded_ratios(sf_val)
        if hist:
            flags = {}
            for n, r in out["duckdb_ratio_per_query"].items():
                h = hist.get(n)
                if not h or not r or timings[n] < 0.3:
                    continue
                if r >= 3.0 * h or r <= h / 3.0:
                    flags[n] = {"ratio": r, "prev_recorded": h}
            if flags:
                out["ratio_outliers_vs_prev"] = flags
        if dd_suspects:
            out["duckdb_guard_exhausted"] = sorted(dd_suspects)
        # the headline numbers go LAST: a recorder that keeps only the
        # TAIL of a too-long output line still keeps them
        # real-compute subset: the full-set ratio carries
        # an ever-growing scheduling floor (sub-0.2s DuckDB rows where
        # Spark pays per-query task scheduling that amortizes away at
        # scale); the subset where DuckDB itself does >=200ms of work
        # is the apples-to-apples engine-throughput number
        real = [n for n in shared if dd[n] >= 0.2]
        dr_tot = sum(dd[n] for n in real)
        sr_tot = sum(timings[n] for n in real)
        out["realcompute_queries"] = len(real)
        out["duckdb_ratio_realcompute"] = (
            round(sr_tot / dr_tot, 3) if dr_tot else None
        )
        out["duckdb_shared_queries"] = len(shared)
        out["duckdb_ratio"] = round(s_tot / d_tot, 3) if d_tot else None
    elif skip_duckdb and sys_argv_skipped_reason:
        out["duckdb_skipped"] = sys_argv_skipped_reason

    # host-state stamp (unconditional: a Spark-only artifact has no
    # cross-engine ratio to lean on for burst attribution): this machine
    # shows multi-minute phantom-load episodes (loadavg ~4 with zero owned
    # processes) that inflate the Spark side 1.5-2x; a recorded artifact
    # taken inside one says so itself. loadavg_pre_spark is the HOST state
    # before our own JVM existed — the number the quiet-host convention is
    # about; loadavg_start_end brackets the timed section (includes our
    # own load).
    try:
        out["loadavg_pre_spark"] = pre_spark_load
        out["loadavg_start_end"] = [
            load_start,
            round(os.getloadavg()[0], 2),
        ]
        # per-stage stamps: pre-Spark / after the Spark pass / after the
        # DuckDB post-pass — a burst that starts mid-run is visible in the
        # artifact itself
        out["loadavg_stages"] = {
            "pre_spark": pre_spark_load,
            "post_spark_pass": load_post_spark,
            "post_duckdb_post": round(os.getloadavg()[0], 2),
        }
    except OSError:
        pass
    if pre_spark_load is not None and pre_spark_load > load_thresh:
        out["load_warning"] = (
            f"host loadavg {pre_spark_load} exceeded {load_thresh} after "
            f"{load_wait:.0f}s of waiting — NOT record-quality; rerun on "
            "a quiet host before quoting this artifact"
        )

    print(json.dumps(out))
    # the complete artifact is the next run's outlier anchor; the core
    # count is in its name because ratios only compare at one width
    try:
        with open(_anchor_path(), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass


def _anchor_path() -> str:
    return os.path.join(HERE, f"BENCH_local_c{CPUS}.json")


def _latest_recorded_ratios(sf_val: float | None = None) -> dict[str, float]:
    """Per-query ratio table of the previous run at this core count
    (`_anchor_path`); empty when there is none, or when it was recorded
    at a different scale factor — ratios only compare at one SF (a
    tiny-SF smoke run is scheduling-floor-dominated and every query
    would flag)."""
    try:
        with open(_anchor_path()) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    if sf_val is not None and (
        data.get("sf") is None or float(data["sf"]) != float(sf_val)
    ):
        return {}
    table = data.get("duckdb_ratio_per_query") or {}
    return {k: v for k, v in table.items() if v is not None}


def _duckdb_reference_timings(
    spark_ref: dict[str, float] | None = None,
    extra_views: dict[str, str] | None = None,
    extra_oracles: dict[str, str] | None = None,
) -> tuple[dict[str, float], list[str]]:
    """Time the oracle SQL in DuckDB on the same data — the reference
    engine IS DuckDB (query/engine.py builds DuckDB SQL), so this is the
    'reference single-node throughput' yardstick at the same SF.

    `spark_ref` (the post-pass only — the pre-pass runs before Spark
    has numbers) enables the MIRROR of the Spark-side host-noise guard:
    a query whose DuckDB min exceeds 3× the recorded Spark min (and
    0.5 s) gets up to two extra samples, exactly the rule the Spark loop
    applies keyed on the DuckDB pre-pass. Symmetric by construction —
    the guard can move the recorded ratio in either direction."""
    import duckdb

    import __spark_entry__ as entry_mod

    from iceberg_geospatial_api_server_spark.sources.tables import (
        TABLE_NAMES,
    )

    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    for v, path in (extra_views or {}).items():
        # prepared-entry tables: the pre-materialized
        # parquet the Spark side also reads — same bytes, both engines
        con.execute(
            f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    oracles = dict(entry_mod.oracle_sql())
    oracles.update(extra_oracles or {})
    timings: dict[str, float] = {}
    suspects: list[str] = []
    for name in BENCH_QUERIES:
        if name not in oracles:
            continue
        samples = []
        for _ in range(2):  # same adaptive protocol as the Spark side
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            samples.append(time.perf_counter() - t0)
        if max(samples) > 1.5 * min(samples):
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            samples.append(time.perf_counter() - t0)
        if spark_ref is not None:
            ref = spark_ref.get(name)
            extra = 0
            while (
                ref is not None
                and min(samples) > max(0.5, 3.0 * ref)
                and extra < 2
            ):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                samples.append(time.perf_counter() - t0)
                extra += 1
            if ref is not None and min(samples) > max(0.5, 3.0 * ref):
                suspects.append(name)  # mirrored burst annotation
        timings[name] = round(min(samples), 3)
    return timings, suspects


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload map_session --seed 1 --seconds 12 --trace 0

Starts the program's Spark session in a fresh run directory, sets the
workload up, runs one warm-up round of every operation kind, then whole
rounds until `--seconds` of operation time, scaled for CPU steal as the
metrics are (`common.unstolen`), have been timed. Every response is
checked after the timed window. The last line of stdout is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
Diagnostics, including load averages and per-class figures, go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import Clock, log, median  # noqa: E402


def _workloads():
    from perfbench.layer_publish import LayerPublish
    from perfbench.map_session import MapSession
    from perfbench.registry_batch import RegistryBatch

    return {w.name: w for w in (MapSession, LayerPublish, RegistryBatch)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(common.ROOT, "iceberg_geospatial_api_server_spark")):
        log("the program's package is not in this checkout")
        return 2
    workloads = _workloads()
    if a.workload not in workloads:
        log(f"unknown workload {a.workload}; one of {sorted(workloads)}")
        return 2

    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": common.cpus(), "cores": common.cores(),
            "driver_mem": f"{common.driver_mem_gb()}g",
            "loadavg_start": common.loadavg()}
    run = common.RunDir(a.workload, a.seed)
    spark = None
    try:
        from perfbench.trace import Tracer

        steal_setup, c_setup = common.steal_s(), Clock()
        c = Clock()
        spark = common.start_spark(run, trace=bool(a.trace))
        session_s = c.s()
        tracer = Tracer(spark, enabled=bool(a.trace))
        wl = workloads[a.workload](spark, run, a.seed, tracer)
        done = wl.setup()
        rounds = wl.rounds(random.Random(a.seed))

        c = Clock()
        warm = [wl.execute(req, f"w{i}", warm=True)
                for i, req in enumerate(next(rounds))]
        warmup_s = c.s()
        setup_steal = (common.steal_s() - steal_setup) / (c_setup.s() * info["cpus"])

        timed, window_s, n_rounds = [], 0.0, 0
        jvm = common.jvm_pid(spark)
        steal0, cpu0, c = common.steal_s(), common.cpu_s(jvm), Clock()

        def steal_share():
            """Share of the window's CPU time the hypervisor took so far."""
            return (common.steal_s() - steal0) / (c.s() * info["cpus"])

        # whole rounds until --seconds of operation time, scaled as the
        # metrics are, so that steal does not change the number of rounds
        while n_rounds == 0 or common.unstolen(window_s, steal_share()) < a.seconds:
            for i, req in enumerate(next(rounds)):
                rid = f"r{n_rounds}-{i}"
                res = wl.execute(req, rid, warm=False)
                res["round"], res["rid"] = n_rounds, rid
                timed.append(res)
                window_s += res["s"]
            n_rounds += 1
        steal = steal_share()
        info["cpu_s"] = common.cpu_s(jvm) - cpu0
        info["peak_rss_mb"] = common.peak_rss_mb([os.getpid(), jvm])

        correct = True
        for res in warm + timed:
            kind = res["req"]["kind"]
            if not res["ok"]:
                if kind not in wl.KNOWN_FAILING:
                    log(f"UNEXPECTED FAILURE {kind}: {res['error']}")
                    correct = False
                continue
            err = wl.check(res)
            if err:
                log(f"WRONG OUTPUT {kind}: {err}")
                correct = False
        if hasattr(wl, "layer_check"):
            err = wl.layer_check()
            if err:
                log(f"WRONG LAYER: {err}")
                correct = False

        ok = [r for r in timed if r["ok"]]
        failed = len(timed) - len(ok)
        # Times are scaled to a quiet host by the steal share of their
        # interval (common.unstolen); the raw times are on stderr
        setup_s = session_s + done.get("layer_build_s", 0.0) + warmup_s
        e2e = {
            "setup_s": (common.unstolen(setup_s, setup_steal), "s"),
            "ops_per_s": (len(ok) / common.unstolen(window_s, steal), "1/s"),
            "op_p50_ms": (common.unstolen(median([r["s"] for r in ok]), steal)
                          * 1000.0, "ms"),
        }
        by_cls: dict[str, list[float]] = {}
        for r in ok:
            by_cls.setdefault(r["req"]["cls"], []).append(r["s"])
        info |= {
            "loadavg_end": common.loadavg(),
            "steal_share": steal, "setup_steal_share": setup_steal,
            "session_s": session_s, "warmup_s": warmup_s, **done,
            "rounds": n_rounds, "window_s": window_s,
            "warm_ops": [(r["req"]["kind"], round(r["s"], 3)) for r in warm],
            "timed_ops": [(r["req"]["kind"], round(r["s"], 3)) for r in timed],
            "class_p50_ms": {k: median(v) * 1000.0 for k, v in by_cls.items()},
            "class_n": {k: len(v) for k, v in by_cls.items()},
            "errors": sorted({r["error"] for r in timed if not r["ok"]}),
            "e2e": {k: v[0] for k, v in e2e.items()},
        }
        if a.trace:
            from perfbench.layers import per_layer

            tracer.resolve()
            tracer.dump(os.path.join(
                common.OUT_ROOT, f"spans_{a.workload}_{a.seed}.jsonl"))
            metrics = per_layer(wl, tracer, timed, info)
        else:
            metrics = e2e
        log("# run " + json.dumps(info, default=str))
        print(json.dumps({
            "correct": correct,
            "attempted": len(timed),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                common.stop_spark(spark)
        finally:
            run.remove()


if __name__ == "__main__":
    sys.exit(main())

"""Rebuild the row -> module table in registry_rows.json.

    python3 perfbench/map_rows.py

Runs every row of the recorded headline list once on generated sf0.01
tables with the public functions of `operators.*`, `geo.*`, `sources.*`
and `streaming.*` wrapped, and records which modules each row enters
(outermost calls, in order) and its time on a second, warm execution. A
row's module is the first `operators` module it enters, else the first
module of any kind. The `pass` list (the rows registry_batch times) is
kept as it is; the rows' times guide choosing it.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, datagen  # noqa: E402
from perfbench.registry_batch import REG_SF, ROWS_PATH as PATH  # noqa: E402

FAMILIES = ["operators", "geo", "sources", "streaming"]


def main() -> None:
    with open(PATH) as f:
        table = json.load(f)
    run = common.RunDir("map_rows", 0)
    spark = common.start_spark(run, trace=False)
    try:
        import __spark_entry__ as entry

        sf_dir = os.path.join(run.data, "tables")
        datagen.write_tables(sf_dir, 0, REG_SF)
        calls: list[str] = []
        depth = [0]

        def wrap(mod, name, fn):
            short = mod.__name__.split("iceberg_geospatial_api_server_spark.")[1]

            def w(*a, **kw):
                if depth[0] == 0:
                    calls.append(short)
                depth[0] += 1
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1

            setattr(mod, name, w)

        for fam in FAMILIES:
            pkg = importlib.import_module(f"iceberg_geospatial_api_server_spark.{fam}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for name, fn in list(vars(mod).items()):
                    if (inspect.isfunction(fn) and not name.startswith("_")
                            and fn.__module__ == mod.__name__):
                        wrap(mod, name, fn)

        qs = entry.queries()
        modules, seen, secs = {}, {}, {}
        for row in table["headline"]:
            for rep in range(2):
                calls.clear()
                t0 = time.perf_counter()
                qs[row](spark, sf_dir).write.format("noop").mode("overwrite").save()
                secs[row] = round(time.perf_counter() - t0, 3)
                spark.catalog.clearCache()
            order = list(dict.fromkeys(calls))
            seen[row] = order
            ops = [m for m in order if m.startswith("operators.")]
            modules[row] = (ops or order or ["entry_queries"])[0]
            print(f"{row:28s} {secs[row]:6.2f}s {modules[row]:22s} {order}",
                  file=sys.stderr, flush=True)
        table["module"] = modules
        table["calls"] = seen
        table["warm_s"] = secs
        with open(PATH, "w") as f:
            json.dump(table, f, indent=1)
            f.write("\n")
    finally:
        common.stop_spark(spark)
        run.remove()


if __name__ == "__main__":
    main()

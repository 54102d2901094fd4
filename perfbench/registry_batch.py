"""registry_batch: passes over a fixed list of `queries()` registry rows.

Each row is built (`queries()[name](spark, sf_dir)`) and executed with a
noop-format write, then the cache is cleared, as `bench.py` times rows.
The row list and each row's operator module are frozen in
`registry_rows.json`, so later edits to `bench.py` do not change this
workload. The first pass is the warm-up and the correctness pass: every
row with an oracle is collected and must hash-match DuckDB running
`oracle_sql()` on the same generated tables, in `tools/drive.py`'s
canonical form.
"""

from __future__ import annotations

import json
import math
import os
import random
from decimal import Decimal

import duckdb

from perfbench import datagen
from perfbench.common import HERE, Clock

REG_SF = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ROWS_PATH = os.path.join(HERE, "registry_rows.json")


def canon(pdf) -> list[str]:
    """Row strings in the order-insensitive canonical form of
    `tools/drive.py`: columns by name, rows sorted over every column, floats
    rounded to 6 places, no int/float coercion."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    out = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if hasattr(v, "item") and not isinstance(v, (bytes, str)):
                v = v.item()
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return out


class RegistryBatch:
    name = "registry_batch"
    KNOWN_FAILING: set[str] = set()

    def __init__(self, spark, run, seed: int, tracer):
        self.spark, self.run, self.seed, self.t = spark, run, seed, tracer
        import __spark_entry__ as entry

        self.entry = entry
        with open(ROWS_PATH) as f:
            table = json.load(f)
        self.rows, self.module = table["pass"], table["module"]
        self.sf_dir = os.path.join(run.data, "tables")

    def setup(self) -> dict:
        datagen.write_tables(self.sf_dir, self.seed, REG_SF)
        self.queries = self.entry.queries()
        self.oracles = self.entry.oracle_sql()
        missing = [r for r in self.rows if r not in self.queries]
        if missing:
            raise SystemExit(f"registry rows missing from queries(): {missing}")
        return {}

    def rounds(self, rng: random.Random):
        while True:
            yield [{"kind": r, "cls": "row", "module": self.module[r]}
                   for r in self.rows]

    def execute(self, req: dict, rid: str, warm: bool = False) -> dict:
        self.t.begin_request(rid)
        c = Clock()
        out = {"req": req, "ok": True}
        try:
            with self.t.span("request", kind=req["kind"], module=req["module"]):
                with self.t.span("registry.build"):
                    df = self.queries[req["kind"]](self.spark, self.sf_dir)
                with self.t.span("registry.exec"):
                    if warm:
                        out["payload"] = (df.toPandas(), list(df.columns))
                    else:
                        df.write.format("noop").mode("overwrite").save()
                self.spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 - counted, reported below
            out["ok"] = False
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        out["s"] = c.s()
        return out

    def check(self, res: dict) -> str | None:
        if "payload" not in res:
            return None  # timed passes write to noop; the warm pass checks
        name = res["req"]["kind"]
        if name not in self.oracles:
            return None
        spdf, scols = res["payload"]
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        dpdf = con.execute(self.oracles[name]).fetch_df()
        if sorted(scols) != sorted(dpdf.columns):
            return f"{name}: columns {sorted(scols)} vs {sorted(dpdf.columns)}"
        if len(spdf) != len(dpdf):
            return f"{name}: {len(spdf)} rows vs DuckDB {len(dpdf)}"
        if canon(spdf) != canon(dpdf):
            return f"{name}: values differ from DuckDB"
        return None

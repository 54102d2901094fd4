"""Driver-protocol simulation: vanilla session (driver builds its own,
without our session factory), entry smoke at sf0.001, oracle compare at sf0.01.

Canonicalization mirrors the driver's pandas-based one (r3 VERDICT):
- both results go through pandas, columns sorted by name, rows sorted by
  `DataFrame.sort_values` over ALL columns — multi-column sort_values
  factorizes each column, so unhashable cells (raw list/array columns)
  raise TypeError here exactly like they ERR in the grading harness;
- ints are NOT coerced to float, so dtype drift (e.g. DuckDB's windowed
  SUM(BIGINT) -> HUGEINT -> float64 vs Spark int64) hash-mismatches
  locally the way it does externally.
"""
import sys, math, time, os
from decimal import Decimal
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master(os.environ.get("DRIVE_MASTER", "local[8]"))
         .config("spark.sql.shuffle.partitions", os.environ.get("DRIVE_SHUFFLE", "8"))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
df = E.entry(spark)
rows = df.collect()
print(f"ENTRY: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

import duckdb
SF = os.environ.get("SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def canon(pdf):
    """Driver-style canonical row strings; raises on unhashable cells."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    out = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if hasattr(v, "item") and not isinstance(v, (bytes, str)):
                v = v.item()  # numpy scalar -> python scalar
            if isinstance(v, Decimal):
                v = float(v)  # DuckDB fetch_df renders DECIMAL as float64
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return out


ONLY = set(sys.argv[1:])
qs, os_ = E.queries(), E.oracle_sql()
fails = []
for name in sorted(qs):
    if ONLY and name not in ONLY:
        continue
    t0 = time.time()
    sdf = qs[name](spark, SF)
    spdf = sdf.toPandas(); scols = list(sdf.columns)
    status = "rows-only"
    if name in os_:
        dpdf = con.execute(os_[name]).fetch_df()
        try:
            ok = (sorted(scols) == sorted(dpdf.columns) and len(spdf) == len(dpdf)
                  and canon(spdf) == canon(dpdf))
        except TypeError as e:
            ok = False
            status = f"ERR:{e}"
        else:
            status = "MATCH" if ok else "MISMATCH"
        if not ok:
            fails.append(name)
    print(f"{name:28s} {status:9s} {len(spdf):6d} rows {time.time()-t0:5.1f}s")
print("FAILS:", fails or "none")
sys.exit(1 if fails else 0)

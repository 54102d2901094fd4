"""Run every queries() entry against its DuckDB oracle — the same check the
driver performs (row count + schema-insensitive, order-insensitive value
compare at sf0.001 here; the driver uses sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(rows, cols):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            if isinstance(v, int) and not isinstance(v, bool):
                v = float(v)  # unify int32/int64 representations
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


ALL = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    if name not in oracles:
        assert len(srows) >= 0  # rows-only check (driver's weaker mode)
        return

    res = duck.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    s_norm = _normalize([[r[c] for c in scols] for r in srows], scols)
    d_norm = _normalize(drows, dcols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_q3_revenue_on_a_binary_half_cent(spark):
    """An order whose revenue sum is the double just below x.835 (printed
    408802.83499999996): Spark's ROUND works on that decimal rendering and
    gives .83, DuckDB's on the binary value scaled by 100 (exactly
    40880283.5) and gives .84. The row and its oracle must agree."""
    import datetime as dt

    import pandas as pd

    from iceberg_geospatial_api_server_spark.operators.relational import (
        q3_shipping_priority,
    )

    tables = {
        "customer": (
            ["c_custkey", "c_mktsegment"],
            "c_custkey long, c_mktsegment string",
            [(1, "BUILDING")],
        ),
        "orders": (
            ["o_orderkey", "o_custkey", "o_orderdate"],
            "o_orderkey long, o_custkey long, o_orderdate timestamp",
            [(11376, 1, dt.datetime(1995, 1, 10))],
        ),
        "lineitem": (
            ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
            "l_orderkey long, l_extendedprice double, l_discount double, "
            "l_shipdate timestamp",
            [(11376, 408802.834999999962, 0.0, dt.datetime(1995, 6, 1))],
        ),
    }
    con = duckdb.connect()
    frames = {}
    for t, (cols, ddl, rows) in tables.items():
        frames[t] = spark.createDataFrame(rows, ddl)
        con.register(t, pd.DataFrame(rows, columns=cols))

    (spark_row,) = q3_shipping_priority(
        frames["customer"], frames["orders"], frames["lineitem"]
    ).collect()
    (duck_rev,) = con.execute(
        f"SELECT revenue FROM ({entry_mod.oracle_sql()['q3_shipping_priority']})"
    ).fetchone()

    assert spark_row["revenue"] == duck_rev == 408802.84

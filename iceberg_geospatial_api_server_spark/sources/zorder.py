"""Z-order (Morton-curve) clustered parquet writes.

Multi-dimensional data clustering for scan pruning: interleaving the
bits of several columns' grid-quantized values gives one sort key whose
ranges are LOCAL in every dimension at once — after a range-partitioned,
sorted write, parquet row-group min/max statistics become tight for ALL
the z-ordered columns, so a predicate on any of them (or a bbox on two)
prunes row groups the way a single-column sort only manages for its one
leading column.

This is the jar-less analog of Iceberg's
`rewrite_data_files(strategy => 'sort', sort_order => 'zorder(a, b)')`
maintenance procedure (see sources/iceberg_io.py — the reference runs
that through its catalog; ref api/main.py:492-604 surface). At 100 TB
this is a layout decision, not a query: pay one range-partitioned sort
at write/compaction time, then every bbox/range scan afterwards reads
only the row groups whose stats intersect.

The pruning win is *measured honestly* in tests/test_zorder.py: the same
rows written plain vs z-ordered, then row-group stats read back from the
parquet footers and a bbox intersection counted — the z-ordered layout
must admit strictly fewer row groups.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantize(col: Column, mn: float, mx: float, bits: int) -> Column:
    """Scale a numeric column onto the [0, 2^bits) integer grid (linear
    min/max scaling; constant, all-null or empty columns (bounds None)
    collapse to 0 — harmless, they contribute nothing to ordering
    anyway)."""
    top = (1 << bits) - 1
    if mn is None or mx <= mn:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(mn))) / F.lit(float(mx - mn))
    return F.least(
        F.greatest((scaled * top).cast("long"), F.lit(0)), F.lit(top)
    )


def zorder_key(
    quantized: list[Column], bits: int = 16
) -> Column:
    """Interleave the low `bits` bits of each quantized column into one
    Morton key (column i contributes bit b to output position
    b·n_cols + i). Pure JVM bit arithmetic — whole-stage codegen, no
    Python: the expression is ~bits·n_cols shift/and/or terms.

    `bits · n_cols` must stay ≤ 63: position 63 is the long sign bit,
    and an interleave that reaches it produces negative keys that break
    the Morton order (e.g. the default bits=16 with 4 columns). Raises
    rather than silently truncating — the caller quantized its columns
    to `bits`, so dropping high bits here would order by the LOW bits,
    which is not a coarser Z-order but a wrong one. `zorder_write`
    auto-reduces bits before quantizing instead."""
    n = len(quantized)
    if bits * n > 63:
        raise ValueError(
            f"bits({bits}) * n_cols({n}) = {bits * n} > 63 would reach the "
            "long sign bit; quantize with bits <= 63 // n_cols"
        )
    terms = []
    for i, q in enumerate(quantized):
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 8,
    bits: int = 16,
    bounds: "dict[str, tuple[float, float]] | None" = None,
) -> None:
    """Write `df` as parquet clustered on the Z-order of `cols`.

    One extra aggregation computes per-column min/max (skippable by
    passing `bounds`, e.g. from table-level stats); the write itself is
    `repartitionByRange(zkey).sortWithinPartitions(zkey)` — a single
    range exchange, after which row-group stats are tight in every
    z-ordered dimension.
    """
    # keep the interleave inside the long's 63 value bits (see
    # zorder_key): resolution degrades gracefully, ordering stays correct
    bits = min(bits, 63 // max(len(cols), 1))
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        row = df.agg(*aggs).first()
        bounds = {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}
    quantized = [
        _quantize(F.col(c), bounds[c][0], bounds[c][1], bits) for c in cols
    ]
    key = zorder_key(quantized, bits)
    (
        df.withColumn("__z", key)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def row_groups_admitted(
    path: str, predicates: dict[str, tuple[float, float]]
) -> tuple[int, int]:
    """Count parquet row groups whose min/max stats intersect the given
    per-column ranges: (admitted, total). The layout-quality yardstick —
    a scan with these predicates must read exactly the admitted groups.
    """
    import os

    import pyarrow.parquet as pq

    admitted = total = 0
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
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            ok = True
            for col, (lo, hi) in predicates.items():
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats → cannot prune → admitted
                if st.min > hi or st.max < lo:
                    ok = False
                    break
            admitted += ok
    return admitted, total

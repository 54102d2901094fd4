"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def multiset_equal_guard(
    a: DataFrame, b: DataFrame, cols: list[str], msg: str
) -> DataFrame:
    """1-row guard frame certifying multiset equality of two frames on
    `cols` — the in-plan precondition pattern (ADVICE r7 / r8 lessons):
    groupBy-count both sides, full-outer join, and `assert_true` that
    zero row-groups mismatch. Returns a single row whose `__g` column
    is NULL on pass; consume it as
    `result.crossJoin(F.broadcast(guard)).select(...,
    F.when(F.isnull("__g"), F.lit(True)).alias(flag))` so column
    pruning cannot drop the side effect and the entry stays a lazy
    plan (no construction collect). On violation the ACTION fails
    loudly with `msg` plus the mismatch count.

    NULL keys compare null-safely (ADVICE r9): the full-outer join
    runs on `eqNullSafe` per column, so identical NULL-keyed groups
    on both sides MATCH instead of false-firing the guard — callers
    need not pre-filter NULLs for the guard's sake (they may still
    filter for their own semantics)."""
    ca = a.groupBy(cols).agg(F.count(F.lit(1)).alias("__c1"))
    cb = b.groupBy(cols).agg(F.count(F.lit(1)).alias("__c2"))
    cond = None
    for c in cols:
        piece = ca[c].eqNullSafe(cb[c])
        cond = piece if cond is None else (cond & piece)
    return (
        ca.join(cb, cond, "full")
        .filter(
            F.col("__c1").isNull()
            | F.col("__c2").isNull()
            | (F.col("__c1") != F.col("__c2"))
        )
        .agg(F.count(F.lit(1)).alias("__nm"))
        .select(
            F.assert_true(
                F.col("__nm") == 0,
                F.concat(
                    F.lit(msg + " ("),
                    F.col("__nm").cast("string"),
                    F.lit(" mismatched row groups)"),
                ),
            ).alias("__g")
        )
    )


def epoch_of(df: DataFrame, col: str = "ts"):
    """Epoch extractor that works for TIMESTAMP and TIMESTAMP_NTZ columns.

    Parquet timestamps written without isAdjustedToUTC read back as
    TIMESTAMP_NTZ under Spark 4's NTZ inference, and
    unix_micros/unix_timestamp reject NTZ inputs. Returns
    ``at(column=col, unit="MICROSECOND"|"SECOND") -> Column`` bound to the
    dtype of ``df[col]``; pass derived columns (lag/min/max over ``col``)
    through the same ``at``. For NTZ the naive wall time is pinned to UTC
    via timestamp_diff from the NTZ epoch — no session-timezone
    dependence — matching DuckDB's epoch_us()/epoch() on naive
    timestamps, so oracle hashes agree in any driver timezone. SECOND
    truncates like unix_timestamp for post-epoch values.
    """
    ntz = dict(df.dtypes).get(col) == "timestamp_ntz"
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")

    def at(c: Column | str = col, unit: str = "MICROSECOND") -> Column:
        c = F.col(c) if isinstance(c, str) else c
        if ntz:
            return F.timestamp_diff(unit, epoch, c)
        return F.unix_micros(c) if unit == "MICROSECOND" else F.unix_timestamp(c)

    return at


def spread(df: DataFrame, partitions: int | None = None, *cols: str) -> DataFrame:
    """Round-robin (or key-hash) repartition to the session's default
    parallelism.

    Used in front of compute-heavy per-row stages: a single-file /
    single-row-group scan yields one task, which would serialize the
    expensive stage regardless of cores. One small shuffle buys full
    parallelism — and on a real cluster the same call is the skew guard
    for hot input files."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def sql_name(name: str) -> str:
    """`name` as a quoted Spark SQL identifier: backticks around it, any
    backtick inside doubled, so a name such as `a.b` or `my name` is read
    as one column, never as a struct field or a syntax error."""
    return "`" + name.replace("`", "``") + "`"

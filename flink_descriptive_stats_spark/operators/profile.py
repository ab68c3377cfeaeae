"""Whole-table single-pass profile (the engine's flagship operator).

Equivalent surface: the reference's entire ProfileJob dataflow
(ProfileJob.java:78-143) — per-column basic stats, string stats, latent-type
counters, plus the row-completeness side pipeline (RowStatsCollectHelper) —
but where the reference re-scans its source 1 + N_cols (+ 2 per string
column) times with a per-column pipeline fan-out (ProfileJob.java:94-113), we
compute EVERYTHING in one ``df.agg`` pass:

  parquet scan -> partial HashAggregate (per partition, codegen)
               -> 1-row exchange -> final HashAggregate -> tiny result

At 100 TB this is the optimal shape: one pass over the data, the only shuffle
moves a single row of ~30*N_cols doubles per partition, no skew possible.
Top-K frequent values/patterns (which genuinely need a grouped shuffle) live
in ``operators/topk.py`` as one separate multiplexed job.

Output: long format — one row per profiled column. Counts and min/max are
exact (BIGINT / DOUBLE); FP-derived statistics are '%.6e' strings (see
functions/sig.py for why).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions import scalar
from flink_descriptive_stats_spark.functions.memo import SessionCache
from flink_descriptive_stats_spark.functions.sig import sig6_py
from flink_descriptive_stats_spark.operators import moments

# Long-format output schema (name, type) — fixed order, every profile row.
PROFILE_FIELDS = [
    ("column", "string"), ("dtype", "string"),
    ("row_count", "bigint"), ("null_count", "bigint"),
    ("numeric_count", "bigint"), ("empty_count", "bigint"),
    ("min_val", "double"), ("max_val", "double"),
] + [(s, "string") for s in moments.DERIVED_STATS] + [
    ("min_len", "bigint"), ("max_len", "bigint"), ("avg_len", "string"),
    ("bool_count", "bigint"), ("int_count", "bigint"),
    ("long_count", "bigint"), ("float_count", "bigint"),
    ("double_count", "bigint"), ("date_count", "bigint"),
]


def completeness_expr(df: DataFrame) -> Column:
    """A16/S2: a row is "complete" iff every field is non-null and its string
    form is not blank (RowStatsCollectHelper.java:31-38). For non-string
    types the string form is never blank, so only string columns need the
    trim test — this keeps the predicate cheap and pushdown-friendly."""
    conds = []
    for f in df.schema.fields:
        c = F.col(f.name)
        cond = c.isNotNull()
        if isinstance(f.dataType, T.StringType):
            cond = cond & (F.trim(c) != "")
        conds.append(cond)
    out = conds[0]
    for cond in conds[1:]:
        out = out & cond
    return out


#: per-session memo of the built aggregate-slot Column lists, keyed by
#: (position, column name, dtype). Columns are immutable unresolved
#: expression trees reusable across DataFrames, but BUILDING one is 1-2
#: py4j round trips — the ~200-expression lineitem bundle costs ~0.7s of
#: pure driver time, rebuilt by every profile-family query over the same
#: schema. Metadata-only (expressions, never data).
_AGG_EXPR_MEMO = SessionCache(512)


def _agg_exprs_for_column(i: int, name: str, dt: T.DataType) -> list[Column]:
    from pyspark import SparkContext
    return _AGG_EXPR_MEMO.get_or_build(
        SparkContext._active_spark_context, (i, name, dt.simpleString()),
        lambda: _build_agg_exprs_for_column(i, name, dt))


def _build_agg_exprs_for_column(i: int, name: str,
                                dt: T.DataType) -> list[Column]:
    """The single-pass aggregate slots for one column (A1-A11)."""
    c = F.col(name)
    p = f"c{i}__"
    exprs = [F.count_if(c.isNull()).alias(f"{p}nulls")]

    x = scalar.numeric_expr(name, dt)
    if x is not None:
        exprs += moments.numeric_agg_exprs(x, p)

    ln = scalar.length_expr(name, dt)
    if ln is not None:
        exprs += [
            F.min(ln).cast("bigint").alias(f"{p}min_len"),
            F.max(ln).cast("bigint").alias(f"{p}max_len"),
            F.avg(ln).alias(f"{p}avg_len"),
        ]

    if isinstance(dt, T.StringType):
        # A4 empty strings + A11 latent-type counters. The reference's merge
        # loses the type counters across partitions (StatsPojo.java:101-155
        # never sums them — SURVEY.md §2.6 item 2); count_if sums correctly.
        exprs += [
            F.count_if(scalar.is_blank_expr(c)).alias(f"{p}empty"),
            F.count_if(scalar.parses_bool_expr(c)).alias(f"{p}bool_count"),
            F.count_if(scalar.parses_int_expr(c)).alias(f"{p}int_count"),
            F.count_if(scalar.parses_long_expr(c)).alias(f"{p}long_count"),
            F.count_if(scalar.parses_float_expr(c)).alias(f"{p}float_count"),
            F.count_if(scalar.parses_float_expr(c)).alias(f"{p}double_count"),
            F.count_if(scalar.parses_date_expr(c)).alias(f"{p}date_count"),
        ]
    return exprs


def profile_schema() -> T.StructType:
    type_map = {"string": T.StringType(), "bigint": T.LongType(),
                "double": T.DoubleType()}
    return T.StructType([T.StructField(name, type_map[ts], True)
                         for name, ts in PROFILE_FIELDS])


def profile(df: DataFrame, columns: list[str] | None = None,
            max_exprs_per_pass: int = 4000) -> DataFrame:
    """Profile every (selected) column of ``df`` in one aggregation pass.

    Execution shape: ONE Spark job — scan -> partial HashAggregate ->
    single-row exchange -> final HashAggregate -> collect of one wide row.
    The derived statistics (D1-D10) are closed-form scalar math over that
    collected row (O(N_cols) floats), so they run driver-side via the
    bit-exact Python mirrors in moments/sig — putting them in the plan as
    per-column Column trees costs seconds of janino compilation (and blows
    the 64KB codegen limit) to compute a dozen scalars "distributed". The
    expression forms still exist (moments.derived_stats) and drive the
    streaming/windowed variant, where there IS one result row per window.

    Ultra-wide schemas: a single pass holds through a few hundred columns
    (a 250-column frame is plan-pinned to one exchange in
    tests/test_round6_ops.py), but the generated projection SOURCE grows
    with the expression count and its compilation memory faster — so past
    ``max_exprs_per_pass`` aggregate slots the columns are CHUNKED into
    ceil(n/max) passes, each still the same narrow scan->partial->1-row
    shape. Each chunk memoizes independently, results merge by column
    name (the aggregates are per-column independent, so chunked ==
    single-pass exactly; pytest-pinned). The default keeps ~400 columns
    in one pass.

    Returns a long-format DataFrame, one row per column, schema
    ``PROFILE_FIELDS``.
    """
    # scale-adaptive input parallelization (guide §2.5): a single-row-group
    # table pins the whole parse-heavy aggregate to ONE task; spread() is a
    # no-op whenever the scan is already parallel (the 100 TB case), so the
    # single-pass design is unchanged at scale, and skips inputs too small
    # to repay the exchange (the small TPC-H dims regressed without the
    # guard). schema_suggestions peeks the memo with the same spread
    # parameters, so the warm path still hits.
    from flink_descriptive_stats_spark.functions.spread import (
        SPREAD_MIN_BYTES, spread)
    df = spread(df, min_bytes=SPREAD_MIN_BYTES)
    fields = [f for f in df.schema.fields
              if columns is None or f.name in columns]

    per_field = [(i, f, _agg_exprs_for_column(i, f.name, f.dataType))
                 for i, f in enumerate(fields)]
    chunks: list[list] = []
    cur: list = []
    cur_n = 1
    for item in per_field:
        if cur and cur_n + len(item[2]) > max_exprs_per_pass:
            chunks.append(cur)
            cur, cur_n = [], 1
        cur.append(item)
        cur_n += len(item[2])
    chunks.append(cur)          # also the empty-schema single chunk

    # memoized: jb_report / repeat profiles of the same input reuse the
    # collected row(s) instead of re-running the scan+agg job
    from flink_descriptive_stats_spark.functions.memo import agg_row_memoized
    row: dict = {}
    for chunk in chunks:
        agg_exprs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
        for _, _, exprs in chunk:
            agg_exprs += exprs
        r = agg_row_memoized(
            df, agg_exprs,
            ("profile", tuple(f.name for _, f, _ in chunk)))
        row.update(r.asDict())

    out_rows = []
    for i, f in enumerate(fields):
        p = f"c{i}__"
        has_numeric = scalar.numeric_expr(f.name, f.dataType) is not None
        has_len = scalar.length_expr(f.name, f.dataType) is not None
        is_str = isinstance(f.dataType, T.StringType)

        n = row[f"{p}n"] if has_numeric else 0
        if has_numeric:
            d = moments.derived_stats_py(
                n, row["row_count"], row[f"{p}mean"], row[f"{p}var_pop"],
                row[f"{p}var_samp"], row[f"{p}skew_raw"], row[f"{p}kurt_raw"])
        else:
            d = {s: None for s in moments.DERIVED_STATS}

        rec = {
            "column": f.name,
            "dtype": f.dataType.simpleString(),
            "row_count": row["row_count"],
            "null_count": row[f"{p}nulls"],
            "numeric_count": n,
            "empty_count": row[f"{p}empty"] if is_str else None,
            "min_val": row[f"{p}min"] if has_numeric else None,
            "max_val": row[f"{p}max"] if has_numeric else None,
            **{s: sig6_py(d[s]) for s in moments.DERIVED_STATS},
            "min_len": row[f"{p}min_len"] if has_len else None,
            "max_len": row[f"{p}max_len"] if has_len else None,
            "avg_len": sig6_py(row[f"{p}avg_len"]) if has_len else None,
        }
        for cnt in ("bool_count", "int_count", "long_count",
                    "float_count", "double_count", "date_count"):
            rec[cnt] = row[f"{p}{cnt}"] if is_str else None
        out_rows.append(tuple(rec[name] for name, _ in PROFILE_FIELDS))

    return df.sparkSession.createDataFrame(out_rows, profile_schema())


def complete_row_count(df: DataFrame) -> DataFrame:
    """A16: count of rows with every field non-null and non-blank."""
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(completeness_expr(df)).alias("complete_count"),
    )

"""Windowed / streaming profile (the BASELINE.json north star).

The reference is batch-only (Flink DataSet API, ProfileJob.java:81); its
aggregation state is nevertheless an algebraic mergeable monoid — which is
exactly what Structured Streaming's incremental state update needs. So the
same aggregate bundle runs under ``groupBy(window(ts, ...))`` unchanged:

- batch DataFrame  -> per-window profile (oracle-checkable via time_bucket)
- streaming DataFrame (readStream) -> identical code path, plus
  ``withWatermark`` for bounded state / late-data drop

Window kinds: tumbling (slide=None), sliding (slide given), session
(gap given -> session_window). Derived stats use the *expression* form
(moments.derived_stats) because there is one result row per window — the
driver-side shortcut used by the batch profile does not apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.sig import sig6
from flink_descriptive_stats_spark.operators import moments

# Derived stats exposed per window — kept to the core set so the per-window
# expression tree stays comfortably inside codegen limits.
WINDOW_STATS = ("mean", "var_pop", "var_samp", "stddev_pop", "stddev_samp",
                "skew_pop", "skew_samp", "kurt_pop", "kurt_samp", "jb_score")

# Raw slot fields carried through the melt (post-agg, pre-derivation).
_RAW_SLOTS = ("null_count", "n", "min", "max", "mean", "var_pop", "var_samp",
              "skew_raw", "kurt_raw")


def _raw_struct(col_name: str, p: str) -> Column:
    """Struct of RAW aggregate slots for one profiled column (no derived
    stats here — see _finish_long for why)."""
    return F.struct(F.lit(col_name).alias("column"),
                    *[F.col(f"{p}{s}").alias(s) for s in _RAW_SLOTS])


def _finish_long(melted: DataFrame, lead_cols: list[str]) -> DataFrame:
    """Derive + sig6 over the melted (one row per group x column) frame.

    Staged on purpose: an earlier version inlined sig6(derived_stats(...))
    per source column inside the pre-explode structs, and since sig6
    references its input ~7x and the derived trees nest when-chains inside
    when-chains, the ANALYZED plan blew up combinatorially — Catalyst
    optimization alone cost ~4.5s of driver CPU per planning at 3 columns
    (the two slowest bench queries in round 2). Three small selects instead:
    flatten raw slots -> derive (each tree appears ONCE, over plain
    attribute refs) -> sig6 (duplicates only attribute refs). Catalyst keeps
    the stages as separate Projects because the producer expressions are
    non-cheap and multiply-referenced, so the tree never re-inlines; the
    projections run over windows x columns rows, which is tiny at any scale.
    """
    flat = melted.select(
        *lead_cols,
        F.col("s.column").alias("column"),
        "row_count",
        F.col("s.null_count").alias("null_count"),
        F.col("s.n").alias("numeric_count"),
        F.col("s.min").alias("min_val"),
        F.col("s.max").alias("max_val"),
        F.col("s.mean").alias("__mean"),
        F.col("s.var_pop").alias("__var_pop"),
        F.col("s.var_samp").alias("__var_samp"),
        F.col("s.skew_raw").alias("__skew_raw"),
        F.col("s.kurt_raw").alias("__kurt_raw"))
    d = moments.derived_stats(F.col("numeric_count"), F.col("row_count"),
                              F.col("__mean"), F.col("__var_pop"),
                              F.col("__var_samp"), F.col("__skew_raw"),
                              F.col("__kurt_raw"))
    keep = [*lead_cols, "column", "row_count", "null_count", "numeric_count",
            "min_val", "max_val"]
    staged = flat.select(*keep, *[d[s].alias(f"__d_{s}") for s in WINDOW_STATS])
    return staged.select(*keep,
                         *[sig6(F.col(f"__d_{s}")).alias(s)
                           for s in WINDOW_STATS])


def windowed_profile(df: DataFrame, ts_col: str = "ts",
                     value_col: str = "value",
                     window: str = "6 hours",
                     slide: str | None = None,
                     session_gap: str | None = None,
                     watermark: str | None = None,
                     extra_keys: list[str] | None = None) -> DataFrame:
    """Per-window numeric profile of ``value_col``. Works on both batch and
    streaming DataFrames (same plan; streaming adds incremental state)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    if session_gap:
        win: Column = F.session_window(F.col(ts_col), session_gap)
    elif slide:
        win = F.window(F.col(ts_col), window, slide)
    else:
        win = F.window(F.col(ts_col), window)

    x = F.col(value_col).cast("double")
    keys = [win.alias("win")] + [F.col(k) for k in (extra_keys or [])]
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(x.isNull()).alias("null_count"),
        *moments.numeric_agg_exprs(x, ""),
    )

    d = moments.derived_stats(F.col("n"), F.col("row_count"), F.col("mean"),
                              F.col("var_pop"), F.col("var_samp"),
                              F.col("skew_raw"), F.col("kurt_raw"))
    keep = [F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(k) for k in (extra_keys or [])],
            F.col("row_count"), F.col("null_count"),
            F.col("n").alias("numeric_count"),
            F.col("min").alias("min_val"), F.col("max").alias("max_val")]
    keep_names = ["window_start", "window_end", *(extra_keys or []),
                  "row_count", "null_count", "numeric_count",
                  "min_val", "max_val"]
    # staged derive -> sig6 (see _finish_long for the planning-cost rationale)
    staged = agg.select(*keep,
                        *[d[s].alias(f"__d_{s}") for s in WINDOW_STATS])
    return staged.select(*keep_names,
                         *[sig6(F.col(f"__d_{s}")).alias(s)
                           for s in WINDOW_STATS])


def windowed_profile_multi(df: DataFrame, ts_col: str = "ts",
                           value_cols: list[str] | None = None,
                           window: str = "6 hours",
                           watermark: str | None = None) -> DataFrame:
    """Per-window profile of SEVERAL numeric columns in ONE aggregation
    pass (the reference profiles every column; the single-column
    windowed_profile is its per-metric slice). Output long format: one row
    per (window, column) with the same stat set as windowed_profile.

    Physical shape: one groupBy(window) carrying per-column moment bundles
    (map-side partial agg, exactly the batch profile's philosophy under a
    window key), then an explode of per-column structs — the melt happens
    AFTER aggregation on windows x columns rows, which is tiny at any input
    scale."""
    from flink_descriptive_stats_spark.functions import scalar
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    if value_cols is None:
        value_cols = [f.name for f in df.schema.fields
                      if f.name != ts_col
                      and scalar.is_numeric_type(f.dataType)]
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for i, c in enumerate(value_cols):
        x = F.col(c).cast("double")
        p = f"c{i}__"
        aggs.append(F.count_if(x.isNull()).alias(f"{p}null_count"))
        aggs += moments.numeric_agg_exprs(x, p)
    agg = df.groupBy(F.window(F.col(ts_col), window).alias("win")).agg(*aggs)

    melted = agg.select(F.col("win.start").alias("window_start"),
                        F.col("win.end").alias("window_end"),
                        F.col("row_count"),
                        F.explode(F.array(
                            *[_raw_struct(c, f"c{i}__")
                              for i, c in enumerate(value_cols)])).alias("s"))
    return _finish_long(melted, ["window_start", "window_end"])


def grouped_profile_multi(df: DataFrame, keys: list[str],
                          value_cols: list[str] | None = None) -> DataFrame:
    """Per-group profile of SEVERAL numeric columns in one aggregation pass
    (grouped analogue of windowed_profile_multi): long format, one row per
    (group, column)."""
    from flink_descriptive_stats_spark.functions import scalar
    if value_cols is None:
        value_cols = [f.name for f in df.schema.fields
                      if f.name not in keys
                      and scalar.is_numeric_type(f.dataType)]
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for i, c in enumerate(value_cols):
        x = F.col(c).cast("double")
        p = f"c{i}__"
        aggs.append(F.count_if(x.isNull()).alias(f"{p}null_count"))
        aggs += moments.numeric_agg_exprs(x, p)
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    melted = agg.select(*[F.col(k) for k in keys], F.col("row_count"),
                        F.explode(F.array(
                            *[_raw_struct(c, f"c{i}__")
                              for i, c in enumerate(value_cols)])).alias("s"))
    return _finish_long(melted, list(keys))


def grouped_profile(df: DataFrame, keys: list[str],
                    value_col: str = "value") -> DataFrame:
    """The windowed profile's aggregate bundle keyed by arbitrary dimension
    columns instead of a time window — per-group numeric profile in one
    partial+final aggregation pass (grouped analogue of the reference's
    whole-column profile; same moments, same derived statistics)."""
    x = F.col(value_col).cast("double")
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(x.isNull()).alias("null_count"),
        *moments.numeric_agg_exprs(x, ""),
    )
    d = moments.derived_stats(F.col("n"), F.col("row_count"), F.col("mean"),
                              F.col("var_pop"), F.col("var_samp"),
                              F.col("skew_raw"), F.col("kurt_raw"))
    keep = [*[F.col(k) for k in keys],
            F.col("row_count"), F.col("null_count"),
            F.col("n").alias("numeric_count"),
            F.col("min").alias("min_val"), F.col("max").alias("max_val")]
    keep_names = [*keys, "row_count", "null_count", "numeric_count",
                  "min_val", "max_val"]
    staged = agg.select(*keep,
                        *[d[s].alias(f"__d_{s}") for s in WINDOW_STATS])
    return staged.select(*keep_names,
                         *[sig6(F.col(f"__d_{s}")).alias(s)
                           for s in WINDOW_STATS])


def windowed_distinct(df: DataFrame, ts_col: str = "ts",
                      key_col: str = "user_id",
                      window: str = "1 day",
                      watermark: str | None = None,
                      exact: bool = True) -> DataFrame:
    """Distinct keys per time window (unique users/day, the canonical
    engagement metric): (window_start, window_end, n_rows, distinct_keys).

    exact=True uses count_distinct — correct in batch (the oracle path)
    but requires full per-window key state in streaming. exact=False uses
    approx_count_distinct (HLL++), whose sketch state is BOUNDED and
    MERGEABLE — the only shape that runs under watermarked streaming
    aggregation at 100 TB; Spark rejects exact distinct aggregates on
    streams for exactly this reason."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    fn = F.count_distinct if exact else F.approx_count_distinct
    agg = (df.groupBy(F.window(F.col(ts_col), window).alias("win"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                fn(F.col(key_col)).alias("distinct_keys")))
    return agg.select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "n_rows", "distinct_keys")


def windowed_quantiles(df: DataFrame, ts_col: str = "ts",
                       value_col: str = "value",
                       window: str = "1 day",
                       probs: tuple[float, ...] = (0.25, 0.5, 0.75),
                       watermark: str | None = None,
                       exact: bool = True) -> DataFrame:
    """Percentiles per time window — the latency-SLO / value-distribution
    monitor (p50/p75 per day): (window_start, window_end, n_rows, q_25,
    q_50, q_75). The windowed companion to extras.grouped_quantiles, same
    exact/approx split: exact=True is the oracle path (per-window sort
    buffer); exact=False swaps in approx_percentile (GK sketch) — bounded
    MERGEABLE state, the only shape a watermarked streaming aggregation
    can carry at 100 TB, same scale note as windowed_distinct's HLL++
    path. One shuffle keyed by the time window (bounded keys)."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    fn = F.percentile if exact else F.percentile_approx
    arr = F.array(*[F.lit(p) for p in probs])
    agg = (df.groupBy(F.window(F.col(ts_col), window).alias("win"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                fn(F.col(value_col).cast("double"), arr).alias("__q")))
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"), "n_rows",
        *[sig6(F.col("__q")[i]).alias(f"q_{int(p * 100)}")
          for i, p in enumerate(probs)])

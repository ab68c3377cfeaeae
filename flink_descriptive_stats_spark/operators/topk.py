"""Top-K frequent values and character patterns (A12-A15 + F4).

Reference shape: per string column, TWO serial sub-pipelines (word + pattern)
each doing groupBy -> global sort at parallelism 1 -> first(20)
(ProfileJob.java:183-216) — the declared bottleneck (BASELINE.md). Our shape
is ONE multiplexed job for ALL string columns and BOTH token kinds:

  melt strings -> (column, token) rows
  union value-kind + pattern-kind          (still one dataflow, no cache)
  groupBy(kind, column, token).count()     <- the only full-data shuffle;
                                              map-side partial agg absorbs
                                              heavy hitters before shuffling
  row_number window over (kind, column)    <- planned with WindowGroupLimit
                                              (Partial) BEFORE the exchange

Scale reasoning (100 TB): the grouped-count shuffle is unavoidable and keyed
by (kind, column, token) — high cardinality, no skew. The final window over
(kind, column) looks like a single-task funnel, but Spark >= 3.5 plans a
rank-limit pushdown (`WindowGroupLimit` in Partial mode before the
exchange), so each upstream partition forwards at most K rows per
(kind, column) — the funnel task sees O(K * partitions), independent of
input size. (A manual salted two-level window achieves the same bound at
the cost of one extra full shuffle — verified equivalent and removed.)
Ties broken (count desc, token asc) for determinism — the reference's tie
order is nondeterministic (SURVEY.md §2.6 item 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions import scalar


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.StringType)]


def topk_tokens(df: DataFrame, columns: list[str] | None = None,
                k: int = 20, include_patterns: bool = True) -> DataFrame:
    """Top-K frequent values (kind='value') and character patterns
    (kind='pattern') per string column. Output: (kind, column, token, cnt,
    rank), rank 1-based by (cnt desc, token asc)."""
    cols = columns or string_columns(df)
    if not cols:
        raise ValueError("no string columns to profile")

    # adaptive input spread (guide §2.5): the melt explode and the
    # pattern/accent generation run fused into the scan stage — a
    # single-row-group table pins them to one core; the exchange moves
    # only the string columns and is a no-op on a parallel scan
    from flink_descriptive_stats_spark.functions.spread import spread
    base = spread(df.select(*cols), cols)
    structs = [F.struct(F.lit(c).alias("column"),
                        F.col(c).alias("token")) for c in cols]
    stacked = (base.select(F.explode(F.array(*structs)).alias("s"))
               .select("s.*")
               .where(F.col("token").isNotNull()))  # P3: null filter

    melted = stacked.select(F.lit("value").alias("kind"), "column", "token")
    if include_patterns:
        melted = melted.unionAll(
            stacked.select(F.lit("pattern").alias("kind"), "column",
                           scalar.pattern_expr(F.col("token")).alias("token")))

    counts = melted.groupBy("kind", "column", "token").agg(
        F.count(F.lit(1)).alias("cnt"))
    return _rank_topk(counts, ["kind", "column"], k)


def _rank_topk(counts: DataFrame, partition_cols: list[str],
               k: int) -> DataFrame:
    """The shared top-K funnel: deterministic (cnt desc, token asc) ties,
    row_number + rank filter — Spark >= 3.5 plans it as a partial
    WindowGroupLimit before the exchange, bounding every partition's
    contribution to K rows per group. One implementation so the global and
    grouped top-K can never diverge on tie-break or pushdown shape."""
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col("cnt").desc(), F.col("token").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def grouped_topk_tokens(df: DataFrame, key_col: str = "lang",
                        text_col: str = "text", k: int = 5) -> DataFrame:
    """Top-K whitespace/punct tokens per GROUP (e.g. top tokens per
    language): (key, token, cnt, rank), rank by (cnt desc, token asc).

    Per-segment ranking over tokenized text — explode is scan-local, one
    grouped count keyed by (key, token) with map-side combine, then the
    same WindowGroupLimit funnel as the global top-K: partial limits bound
    each partition's contribution to K rows per group BEFORE the ranking
    exchange, so a hot group never concentrates its raw token stream."""
    from flink_descriptive_stats_spark.functions import hashing as H
    tok = (df.where(F.col(text_col).isNotNull()
                    & F.col(key_col).isNotNull())
           .select(F.col(key_col).alias("key"),
                   F.explode(H.tokens_expr(F.col(text_col)))
                   .alias("token")))
    counts = tok.groupBy("key", "token").agg(
        F.count(F.lit(1)).alias("cnt"))
    return _rank_topk(counts, ["key"], k)

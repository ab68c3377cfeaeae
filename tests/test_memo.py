"""functions/memo.py: repeat aggregate bundles over the same immutable
input hit the memo; different inputs or tags miss."""

from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions import memo


def test_agg_row_memoized_hits_and_misses(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    a = memo.agg_row_memoized(df, [F.avg("x").alias("m")], ("t1",))
    b = memo.agg_row_memoized(df, [F.avg("x").alias("m")], ("t1",))
    assert a is b                      # same plan + tag -> cached row
    c = memo.agg_row_memoized(df, [F.max("x").alias("m")], ("t2",))
    assert c is not a and c["m"] == 3.0
    other = spark.createDataFrame([(9.0,)], "x double")
    d = memo.agg_row_memoized(other, [F.avg("x").alias("m")], ("t1",))
    assert d["m"] == 9.0               # different input -> different row


def test_cluster_memo_reuse(spark):
    from flink_descriptive_stats_spark.operators import dedup
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "unrelated text here")],
        "doc_id long, text string")
    a = dedup.neardup_clusters(df)
    b = dedup.neardup_clusters(df)
    assert a is b                      # checkpointed labels reused
    rows = sorted(map(tuple, b.collect()))
    assert rows == [(0, 0), (1, 0), (2, 2)]


def test_agg_exprs_for_column_returns_a_copy(spark):
    """Mutating the returned aggregate-slot list must not leak into the
    next call's result (the memo used to hand out its own list)."""
    from pyspark.sql import types as T

    from flink_descriptive_stats_spark.operators import profile
    first = profile._agg_exprs_for_column(0, "x", T.DoubleType())
    n = len(first)
    first.append(F.lit(1))
    first.clear()
    again = profile._agg_exprs_for_column(0, "x", T.DoubleType())
    assert len(again) == n and n > 0


def test_session_cache_threaded_eviction_has_no_race(spark, monkeypatch):
    """Eight threads inserting past ``max`` at a tiny switch interval:
    eviction used to pop the same oldest key twice and raise KeyError."""
    import sys
    import threading

    monkeypatch.setattr(memo, "_CACHES", [])
    cache = memo.SessionCache(4)
    errors = []

    def work(t):
        try:
            for i in range(300):
                cache.get_or_build(spark, (t, i), lambda: [t, i])
        except Exception as e:          # noqa: BLE001 - recorded below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,))
                   for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(cache) <= 4


def test_session_cache_clear_runs_on_evict(spark, monkeypatch):
    monkeypatch.setattr(memo, "_CACHES", [])
    evicted = []
    cache = memo.SessionCache(2, on_evict=evicted.append)
    for i in range(3):
        cache.put(spark, i, f"v{i}")
    assert evicted == ["v0"]                     # FIFO eviction
    assert cache.lookup(spark, 2) == "v2"
    assert cache.lookup(spark, 0) is None
    memo.clear_all_memos()
    assert sorted(evicted) == ["v0", "v1", "v2"] and len(cache) == 0


def test_parquet_schema_sees_rewritten_file(spark, tmp_path):
    """The schema memo keys on the file's (size, mtime): a path
    rewritten with a new schema must not serve the old one."""
    from flink_descriptive_stats_spark.sources.tables import _parquet_schema
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "x int").write.parquet(path)
    assert _parquet_schema(spark, path).fieldNames() == ["x"]
    spark.createDataFrame([("a",)], "y string").write.mode(
        "overwrite").parquet(path)
    assert _parquet_schema(spark, path).fieldNames() == ["y"]

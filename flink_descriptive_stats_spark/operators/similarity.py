"""Similarity search over an embedding column (array<float>).

Two strategies:

- brute_force_topk: exact cosine top-k. The query side is small and
  broadcast; the corpus side streams partition-parallel, so the plan is
  scan -> broadcast join -> ranked window (WindowGroupLimit bounds the
  per-query funnel). Exact, oracle-checkable (the dot product is a
  left-fold in index order, bit-identical to DuckDB's list_reduce).
- lsh_topk: random-hyperplane LSH buckets (sign bits against deterministic
  pseudo-hyperplanes), candidates restricted to same-bucket, then exact
  re-rank. At 100 TB the bucket join replaces the all-pairs product with
  per-bucket blocks.

- ivf_topk: IVF-style coarse quantizer — corpus vectors are assigned to
  their nearest "centroid" cell and queries probe only their n_probe
  nearest cells. Centroids are seed vectors (the first n_cells ids), not
  k-means iterates: that keeps the operator a pure two-join dataflow (no
  iterative driver loop) and fully deterministic, hence oracle-checkable.
  A k-means refinement would only move the centroids; the search plan —
  assign / probe / per-cell exact re-rank — is identical.

All vector math uses built-in higher-order array functions (zip_with /
aggregate) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.fsio import (
    get_fs, read_text_recovering, warn_non_atomic)
from flink_descriptive_stats_spark.functions.memo import SessionCache, plan_key


def with_norm(df: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, v: array<double>, norm). Norm = sqrt(sum v_i^2), left-fold.

    NULL and zero-norm vectors are dropped: cosine against a zero vector is
    0/0 = NaN, and NaN ordering DIVERGES between engines (Spark comparators
    fall through to the tiebreak, DuckDB ORDER BY sorts NaN largest), so a
    degenerate vector would get engine-dependent IVF cell assignment and
    ranks. Filtering makes every downstream cosine well-defined on both.
    The synthetic fixtures contain no such vectors, so gated outputs are
    unchanged."""
    v = F.col(vec_col).cast("array<double>")
    dot_self = F.aggregate(F.zip_with(v, v, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, z: acc + z)
    return (df.select(F.col(id_col).alias("id"), v.alias("v"),
                      F.sqrt(dot_self).alias("norm"))
            .where(F.col("norm") > 0))


def brute_force_topk(df: DataFrame, query_ids: list[int] | None = None,
                     k: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     max_query_id: int | None = 10) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos, rank), self excluded,
    rank by (cos desc, neighbor_id asc)."""
    d = with_norm(df, id_col, vec_col)
    q = d
    if query_ids is not None:
        q = q.where(F.col("id").isin(query_ids))
    elif max_query_id is not None:
        q = q.where(F.col("id") < max_query_id)
    qa = q.select(F.col("id").alias("qid"), F.col("v").alias("qv"),
                  F.col("norm").alias("qnorm"))
    joined = d.crossJoin(F.broadcast(qa)).where(F.col("id") != F.col("qid"))
    dot = F.aggregate(F.zip_with(F.col("qv"), F.col("v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    cos = dot / (F.col("qnorm") * F.col("norm"))
    scored = joined.select(F.col("qid").alias("query_id"),
                           F.col("id").alias("neighbor_id"),
                           cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# Deterministic pseudo-hyperplanes: hp[j][i] derived from a fixed integer mix
# (no RNG, reproducible across engines/rounds — the oracle imports these
# same functions, so both engines always see identical plane literals).
#
# The mixer must actually decorrelate planes: the first-round affine mix
# ((j*1000003 + i*7919 + 12345) % p) never wrapped the modulus for i < dim,
# so every "plane" was the same line a_j + 7919*i — 128 planes with
# pairwise |cos| = 1.0, i.e. ONE effective plane and ~n/2 sized buckets.
# splitmix64 finalization gives measured pairwise |cos| ~ N(0, 1/sqrt(dim))
# and per-bit bucket balance.
_M64 = (1 << 64) - 1


def _mix64(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _hp_component(j: int, i: int) -> float:
    # Seed (j << 32) | i: disjoint bit ranges, so no (j, i) aliasing at any
    # realistic dim (the old j*0x10001 + i seed aliased (j, i) with
    # (j+1, i-65537) for dim >= 65537 — silent plane correlation).
    # top 52 bits -> [0, 1) exactly representable, then map to [-1, 1)
    return (_mix64((j << 32) | i) >> 12) / float(1 << 52) * 2.0 - 1.0


def _dlit(x: float) -> str:
    """Exact double literal for Spark SQL text. repr() emits the shortest
    decimal that round-trips to the same double in Python; the JVM's
    parseDouble of the same text is also correctly rounded, so the parsed
    value is bit-identical — same exactness as F.lit(float(...))."""
    return repr(float(x)) + "D"


def _dot_sql(vec_sql: str, comps) -> str:
    """SQL text for the index-order left-fold dot product of a vector
    column against inlined literal components."""
    arr = ",".join(_dlit(c) for c in comps)
    return (f"aggregate(zip_with({vec_sql}, array({arr}), "
            f"(x, y) -> x * y), 0.0D, (acc, z) -> acc + z)")


def ranked_cells_expr(crows) -> F.Column:
    """array<struct<cos_c, cell_id>> of per-cell cosines against inlined
    centroid literals, sorted (cos desc, cell_id asc) — the NARROW argmax
    shared by IVF search assignment/probing and the Lloyd loop (one
    implementation so the deterministic tie-break and the literal inlining
    cannot drift between them or from the unrolled SQL oracle).

    ``crows`` are collected Rows with cell_id/cv/cnorm — bounded metadata
    (<= n_cells). Built as ONE SQL string parsed JVM-side: constructing
    the same tree through the Column API costs ~1.5s of Py4J round-trips
    per build at 16 cells x 64 dims (measured — it was most of the
    ann_ivf_kmeans bench regression, built once per Lloyd round plus once
    for the search), vs milliseconds for text. NaN cannot arise: with_norm
    guarantees norm > 0 and centroid norms are norms of nonempty member
    means."""
    cells = ", ".join(
        f"named_struct('cos_c', {_dot_sql('v', r['cv'])} / "
        f"(norm * {_dlit(r['cnorm'])}), "
        f"'cell_id', CAST({int(r['cell_id'])} AS BIGINT))"
        for r in sorted(crows, key=lambda r: r["cell_id"]))
    cmp = ("(a, b) -> CASE WHEN a.cos_c > b.cos_c THEN -1 "
           "WHEN a.cos_c < b.cos_c THEN 1 "
           "WHEN a.cell_id < b.cell_id THEN -1 "
           "WHEN a.cell_id > b.cell_id THEN 1 ELSE 0 END")
    return F.expr(f"array_sort(array({cells}), {cmp})")


def lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text for a bucket id = sign-bit code of the vector against each
    hyperplane (text for the same Py4J-cost reason as ranked_cells_expr:
    plane literals are n_planes x dim doubles)."""
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_sql, hp)} >= 0.0D "
        f"THEN {1 << j} ELSE 0 END)"
        for j, hp in enumerate(planes))
    return f"({terms})"


def embedding_dim_profile(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-dimension statistics of an embedding column — the drift-detection
    profile for vector datasets: (dim, n, mean, stddev_pop, min, max).

    posexplode keeps the plan scan-local until one groupBy(dim) shuffle
    with map-side partial aggregation; dim cardinality == vector width, so
    the final aggregate is tiny at any input scale."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    d = (df.where(F.col(vec_col).isNotNull())
         .select(F.posexplode(F.col(vec_col).cast("array<double>"))
                 .alias("dim", "x")))
    return (d.groupBy("dim")
            .agg(F.count("x").alias("n"),
                 sig6(F.avg("x")).alias("mean"),
                 sig6(F.stddev_pop("x")).alias("stddev_pop"),
                 F.min("x").alias("min_val"),
                 F.max("x").alias("max_val")))


def lsh_table_codes(vec_sql: str, n_tables: int, bits_per_table: int,
                    dim: int) -> F.Column:
    """array<int> of per-table LSH codes: table t's code packs the sign bits
    of the vector against planes [t*b, (t+1)*b) — the banding scheme MinHash
    LSH uses (dedup.py band keys), applied to hyperplane bits. ``vec_sql``
    is the vector column's SQL name (one parsed SQL string; the Column API
    costs seconds of Py4J round-trips at n_tables x bits x dim literals)."""
    codes = []
    for t in range(n_tables):
        planes = [[_hp_component(t * bits_per_table + j, i)
                   for i in range(dim)]
                  for j in range(bits_per_table)]
        codes.append(lsh_bucket_sql(vec_sql, planes))
    return F.expr(f"array({', '.join(codes)})")


def lsh_topk(df: DataFrame, k: int = 5, n_tables: int = 8,
             bits_per_table: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding", max_query_id: int | None = 10,
             dim: int = 64, multiprobe: bool = False) -> DataFrame:
    """Approximate cosine top-k via banded multi-table hyperplane LSH.

    A single b-bit table has collision probability p_bit^b for a neighbor
    (p_bit = 1 - theta/pi), which collapses for any useful b — the round-3
    single 8-plane table bucketed a 500-vector corpus into ~256 near-
    singletons (recall 0.03). The standard fix (Indyk-Motwani; same banding
    MinHash LSH uses in dedup.py:162-209) is L independent tables of b
    planes each: a candidate needs to collide in ANY table, so recall is
    1-(1-p_bit^b)^L while the touched corpus fraction stays ~L/2^b for
    random non-neighbors.

    Physical shape: corpus scan -> posexplode to (table, bucket) long form
    (L rows per vector, vectors carried by reference) -> bucket join against
    the broadcast exploded queries -> distinct pair dedup -> exact cosine
    re-rank under a per-query WindowGroupLimit funnel. At 100 TB the join
    is keyed by (table, bucket) — bounded-size buckets, never all-pairs —
    and only the candidate union is ranked. Deterministic planes, so the
    DuckDB oracle mirrors bit-for-bit.

    ``multiprobe=True`` additionally probes, per table, the b buckets at
    Hamming distance 1 from the query's code (query-side expansion only —
    the corpus index is untouched). Standard multiprobe trade: the same
    recall with fewer tables, i.e. L× less index space, at (b+1)× more
    bucket lookups per query."""
    d = with_norm(df, id_col, vec_col).withColumn(
        "codes", lsh_table_codes("v", n_tables, bits_per_table, dim))
    q = d
    if max_query_id is not None:
        q = q.where(F.col("id") < max_query_id)
    expl = lambda c: F.posexplode(c).alias("tbl", "bucket")
    dl = d.select("id", "v", "norm", expl("codes"))
    qa = q.select(F.col("id").alias("qid"), F.col("v").alias("qv"),
                  F.col("norm").alias("qnorm"), expl("codes"))
    if multiprobe:
        flips = F.array(F.lit(0), *[F.lit(1 << j)
                                    for j in range(bits_per_table)])
        qa = (qa.select("qid", "qv", "qnorm", "tbl", "bucket",
                        F.explode(flips).alias("flip"))
              .select("qid", "qv", "qnorm", "tbl",
                      F.col("bucket").bitwiseXOR(F.col("flip"))
                      .alias("bucket")))
    joined = dl.join(F.broadcast(qa), ["tbl", "bucket"]).where(
        F.col("id") != F.col("qid"))
    dot = F.aggregate(F.zip_with(F.col("qv"), F.col("v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    cos = dot / (F.col("qnorm") * F.col("norm"))
    # same pair from two tables computes the identical double; distinct on
    # the scored triple unions the per-table candidate sets
    scored = joined.select(F.col("qid").alias("query_id"),
                           F.col("id").alias("neighbor_id"),
                           cos.alias("cos")).distinct()
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# Trained-model memo (bounded metadata: centroid rows / codebook arrays),
# keyed by (analyzed-plan semantic hash, params) like
# functions/memo.agg_row_memoized. ann_ivf_kmeans / ann_pq / ann_ivf_pq
# train on identical (input, params) pairs, so within one process the
# Lloyd/PQ training runs ONCE and the searches share it — retraining per
# query was pure repeat work (training is deterministic).
_MODEL_MEMO = SessionCache(64)


def _model_memoized(df: DataFrame, params: tuple, build):
    return _MODEL_MEMO.get_or_build(df.sparkSession,
                                    plan_key(df, params), build)


def kmeans_centroid_rows(df: DataFrame, n_cells: int = 16, iters: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> list:
    return _model_memoized(
        df, ("kmeans", n_cells, iters, id_col, vec_col),
        lambda: _kmeans_centroid_rows(df, n_cells, iters, id_col, vec_col))


def _kmeans_centroid_rows(df: DataFrame, n_cells: int = 16, iters: int = 2,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> list:
    """Lloyd-refined IVF centroids, returned as COLLECTED (cell_id, cv,
    cnorm) rows — deterministic (seeded by the first ``n_cells`` ids, fixed
    iteration count, argmax ties broken by cell id), no RNG.

    Per iteration: (1) assign every vector to its nearest centroid by
    cosine — centroids are bounded metadata (<= n_cells rows) inlined as
    literals, so the assignment is a NARROW argmax over the corpus scan
    with zero exchange on the corpus side; (2) recompute each centroid as
    the per-dimension mean of its members — posexplode to (cell, dim, x),
    ONE groupBy(cell, dim) with map-side partial avg, regroup to arrays.
    The only shuffles are keyed by (cell, dim) — cardinality n_cells x dim,
    tiny at any corpus size. Cells that lose all members drop out (k
    shrinks), the standard Lloyd degeneracy.

    Returning rows (not a DataFrame) keeps the job count at exactly
    iters + 1: one bounded collect per refinement round and one for the
    seeds. The round-4 shape materialized the final centroid pipeline
    TWICE more — an eager localCheckpoint re-ran the last refinement end
    to end, then the caller's ``base.collect()`` added another job — which
    is what regressed the sf0.1 bench 3.15s -> 5.95s (the per-job cost is
    dominated by codegen of the inlined-centroid argmax, so redundant jobs
    are expensive even on a tiny corpus)."""
    # each Lloyd round materializes (bounded collect of the next centroid
    # table), so without a persist the corpus scan + norm reruns per
    # iteration — standard practice is caching the working set across
    # rounds (MEMORY_AND_DISK: spills rather than OOMs on big corpora)
    from pyspark import StorageLevel
    from flink_descriptive_stats_spark.functions.sig import sig6
    d = with_norm(df, id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    rows = (d.where(F.col("id") < n_cells)
            .select(F.col("id").alias("cell_id"), F.col("v").alias("cv"),
                    F.col("norm").alias("cnorm")).collect())
    for _ in range(iters):
        best = ranked_cells_expr(rows)[0]
        assign = d.select(best["cell_id"].alias("cell_id"), "v")
        # per-dim means round-trip through the 7-sig-digit rendering: FP
        # summation order (partitioning / engine) can move a mean by ULPs,
        # and means feed the DISCRETE argmax assignment — rounding pins the
        # loop to one deterministic trajectory on any engine or layout
        per_dim = (assign
                   .select("cell_id", F.posexplode("v").alias("dim", "x"))
                   .groupBy("cell_id", "dim")
                   .agg(sig6(F.avg("x")).cast("double").alias("m")))
        cents = (per_dim.groupBy("cell_id")
                 .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                      .alias("s"))
                 .select("cell_id",
                         F.expr("transform(s, p -> p.m)").alias("cv")))
        cnorm = F.sqrt(F.aggregate(
            F.zip_with(F.col("cv"), F.col("cv"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, z: acc + z))
        rows = cents.withColumn("cnorm", cnorm).collect()
    d.unpersist()
    return rows


def kmeans_centroids(df: DataFrame, n_cells: int = 16, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """DataFrame view of ``kmeans_centroid_rows`` (compat wrapper):
    (cell_id, cv: array<double>, cnorm)."""
    rows = kmeans_centroid_rows(df, n_cells, iters, id_col, vec_col)
    return df.sparkSession.createDataFrame(
        [(int(r["cell_id"]), list(r["cv"]), float(r["cnorm"]))
         for r in rows],
        "cell_id bigint, cv array<double>, cnorm double")


def ivf_topk(df: DataFrame, k: int = 5, n_cells: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_query_id: int = 10, refine_iters: int = 0) -> DataFrame:
    """IVF search: (query_id, neighbor_id, cos, rank), self excluded.

    Physical shape at scale: the centroid table is bounded (n_cells rows —
    metadata, not data), so it is collected once and inlined as literal
    arrays; cell assignment is then a NARROW expression — per-cell cosines
    in one array column, argmax via an array_sort comparator — with zero
    exchange and zero join on the corpus side (the round-3 plan shuffled
    every vector through a Window.partitionBy(id) exchange here). Queries
    probe their n_probe nearest cells (slice of the same sorted array), and
    the candidate join is keyed by cell_id, touching ~n_probe/n_cells of
    the corpus instead of all of it — recall<1 by design, the standard IVF
    trade. The probe side is tiny and broadcast; the only corpus exchange
    left is the final per-query ranking window.

    ``refine_iters > 0`` swaps the seed centroids for ``refine_iters``
    Lloyd iterations (kmeans_centroids) — better-centered cells, higher
    recall at the same n_probe; the search plan is unchanged."""
    d = with_norm(df, id_col, vec_col)
    # n_cells rows of plan constants — the same bounded-collect pattern as
    # memoized stats rows; values are exact doubles, so the oracle's math
    # is unchanged
    if refine_iters > 0:
        crows = kmeans_centroid_rows(df, n_cells, refine_iters, id_col,
                                     vec_col)
    else:
        crows = (d.where(F.col("id") < n_cells)
                 .select(F.col("id").alias("cell_id"),
                         F.col("v").alias("cv"),
                         F.col("norm").alias("cnorm")).collect())
    scored = d.withColumn("cells", ranked_cells_expr(crows))
    assign = scored.select(
        "id", "v", "norm", F.col("cells")[0]["cell_id"].alias("cell_id"))
    probes = (scored.where(F.col("id") < max_query_id)
              .select(F.col("id").alias("query_id"), F.col("v").alias("qv"),
                      F.col("norm").alias("qnorm"),
                      F.explode(F.slice(F.col("cells"), 1, n_probe).getField(
                          "cell_id")).alias("cell_id")))
    qdot = F.aggregate(F.zip_with(F.col("qv"), F.col("v"),
                                  lambda x, y: x * y),
                       F.lit(0.0), lambda acc, z: acc + z)
    cand = (assign.join(F.broadcast(probes), "cell_id")
            .where(F.col("id") != F.col("query_id"))
            .withColumn("cos", qdot / (F.col("qnorm") * F.col("norm"))))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                F.col("id").asc())
    return (cand.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("id").alias("neighbor_id"), "cos",
                    "rank"))


def semdedup(df: DataFrame, threshold: float = 0.95, n_cells: int = 16,
             refine_iters: int = 0, id_col: str = "vec_id",
             vec_col: str = "embedding",
             max_cell: int | None = 65536) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:
    2303.09540): cluster embeddings into k cells, then WITHIN each cell
    drop every vector that has an earlier-id neighbor above the cosine
    threshold. Output: (vec_id, cell_id, kept, dup_of) where dup_of is
    the smallest same-cell earlier id with cos >= threshold (NULL for
    kept rows) — a deterministic keep-first policy, same convention as
    dedup.exact_dedup.

    Physical shape at 100 TB: cell assignment is the NARROW inlined-
    centroid argmax shared with ivf_topk (zero corpus exchange); the
    within-cell pair search is ONE self-equi-join keyed by cell_id, so
    compare cost is sum(cell^2), not n^2 — cells are what make SemDeDup
    sub-quadratic, and more cells = smaller cells = less work at the cost
    of cross-cell recall (the published trade). The dot product is the
    same index-order left-fold as the DuckDB oracle, so the >= threshold
    decision cannot fork on summation order."""
    d = with_norm(df, id_col, vec_col)
    if refine_iters > 0:
        crows = kmeans_centroid_rows(df, n_cells, refine_iters, id_col,
                                     vec_col)
    else:
        crows = (d.where(F.col("id") < n_cells)
                 .select(F.col("id").alias("cell_id"),
                         F.col("v").alias("cv"),
                         F.col("norm").alias("cnorm")).collect())
    # the assigned frame is consumed FOUR times (oversized-cell count,
    # both sides of the pair join, the final labels join), and the
    # inlined-centroid argmax it carries is the expensive per-row step —
    # persist it (bounded registry, MEMORY_AND_DISK: spills rather than
    # OOMs on big corpora). Measured at sf0.1 min-of-3: 2.82 -> 1.78s,
    # byte-identical output.
    from flink_descriptive_stats_spark.operators.dedup import _persist_pos
    assign = _persist_pos(d.withColumn(
        "cell_id", ranked_cells_expr(crows)[0]["cell_id"]))
    paired = assign
    if max_cell is not None:
        oversized = [int(r["cell_id"]) for r in
                     assign.groupBy("cell_id")
                     .agg(F.count(F.lit(1)).alias("n"))
                     .where(F.col("n") > max_cell).collect()]
        if oversized:
            paired = assign.where(~F.col("cell_id").isin(oversized))
    a = paired.select("cell_id", F.col("id").alias("ida"),
                      F.col("v").alias("va"), F.col("norm").alias("na"))
    b = paired.select("cell_id", F.col("id").alias("idb"),
                      F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    dup = (a.join(b, "cell_id")
           .where(F.col("idb") < F.col("ida"))
           .where(dot / (F.col("na") * F.col("nb")) >= F.lit(threshold))
           .groupBy("ida").agg(F.min("idb").alias("dup_of")))
    return (assign.join(dup, assign["id"] == dup["ida"], "left")
            .select(F.col("id").alias("vec_id"), "cell_id",
                    F.col("dup_of").isNull().alias("kept"), "dup_of"))


def embedding_diversity(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Corpus-level embedding diversity WITHOUT materializing any pair:
    for unit-normalized vectors u_i, sum_{i != j} cos(u_i, u_j)
    = ||sum u_i||^2 - n, so mean pairwise cosine =
    (||S||^2 - n) / (n (n - 1)) from ONE aggregation of the per-dimension
    sums — the O(n) identity that replaces the O(n^2) compare a naive
    diversity probe would run (low mean cos = diverse corpus, high =
    collapsed/templated embeddings). Output: (n, dim, mean_pairwise_cos,
    mean_norm) — mean_norm of the RAW vectors (a drifting embedder often
    shows up in norms first).

    Shape: normalize per row (narrow), posexplode to (dim, u_i) pairs,
    one groupBy(dim) sum — bounded by the dimension — then a 1-row
    driver combination. Zero-norm vectors are excluded (with_norm
    policy)."""
    from flink_descriptive_stats_spark.functions.sig import sig6_py
    d = with_norm(df, id_col, vec_col)
    u = F.transform(F.col("v"), lambda x: x / F.col("norm"))
    base = d.select(u.alias("u"), "norm")
    nrow = base.agg(F.count(F.lit(1)).alias("n"),
                    F.avg("norm").alias("mean_norm")).collect()[0]
    n = int(nrow["n"])
    dims = (base.select(F.posexplode("u").alias("dim", "x"))
            .groupBy("dim").agg(F.sum("x").alias("s")).collect())
    dim = len(dims)
    s2 = sum(float(r["s"]) ** 2 for r in dims)
    mean_cos = (s2 - n) / (n * (n - 1)) if n > 1 else None
    return df.sparkSession.createDataFrame(
        [(n, dim, sig6_py(mean_cos) if mean_cos is not None else None,
          sig6_py(float(nrow["mean_norm"])))],
        "n bigint, dim int, mean_pairwise_cos string, mean_norm string")


def embedding_drift(df_a: DataFrame, df_b: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift between two snapshots: cosine between the
    two MEAN vectors plus each side's n and mean norm — the cheapest
    embedder-regression / corpus-shift alarm (a re-trained encoder or a
    topic shift moves the centroid long before individual neighbors
    change). One bounded per-dimension aggregate per side; the centroid
    cosine is a driver-side dot of two dim-length lists."""
    import math
    from flink_descriptive_stats_spark.functions.sig import sig6_py

    def side(df):
        d = with_norm(df, id_col, vec_col)
        nrow = d.agg(F.count(F.lit(1)).alias("n"),
                     F.avg("norm").alias("mn")).collect()[0]
        dims = (d.select(F.posexplode("v").alias("dim", "x"))
                .groupBy("dim").agg(F.avg("x").alias("m"))
                .orderBy("dim").collect())
        return int(nrow["n"]), float(nrow["mn"]), [float(r["m"])
                                                   for r in dims]

    na, norm_a, ca = side(df_a)
    nb, norm_b, cb = side(df_b)
    dot = sum(x * y for x, y in zip(ca, cb))
    la = math.sqrt(sum(x * x for x in ca))
    lb = math.sqrt(sum(x * x for x in cb))
    cos = dot / (la * lb) if la > 0 and lb > 0 else None
    return df_a.sparkSession.createDataFrame(
        [(na, nb, sig6_py(cos) if cos is not None else None,
          sig6_py(norm_a), sig6_py(norm_b))],
        "n_a bigint, n_b bigint, centroid_cos string, "
        "mean_norm_a string, mean_norm_b string")


# ---------------------------------------------------------------- product
# quantization (PQ) — the ANN memory-compression path: IVF bounds how much
# of the corpus a query TOUCHES, PQ bounds how many BYTES each touched
# vector costs (m uint8 codes instead of dim floats; 64-dim float32 ->
# 8 bytes is a 32x cut, the difference between scanning from RAM and disk
# at 100 TB). Codebooks are trained driver-side on a bounded deterministic
# sample (metadata-scale, standard FAISS practice), the corpus encode and
# the ADC scan are both NARROW Arrow-batched passes — no corpus exchange
# at all until the per-query candidate funnel.

def pq_codebooks(df: DataFrame, m: int = 8, ksub: int = 16, iters: int = 5,
                 sample_mod: int = 0, id_col: str = "vec_id",
                 vec_col: str = "embedding", max_train: int = 1 << 16):
    return _model_memoized(
        df, ("pq", m, ksub, iters, sample_mod, id_col, vec_col, max_train),
        lambda: _pq_codebooks(df, m, ksub, iters, sample_mod, id_col,
                              vec_col, max_train))


def _pq_train_sample(d: DataFrame, sample_mod: int,
                     max_train: int) -> DataFrame:
    """The deterministic bounded training sample for PQ codebooks.

    sample_mod >= 1 is the explicit override: keep ids with
    id % sample_mod == 0 (sample_mod=1 = whole-corpus training, an
    explicit opt-in — it collects the corpus to the driver).
    sample_mod == 0 (the default) derives the stride from the id RANGE so
    the collected sample holds at most ``max_train`` rows for ANY id
    distribution: stride = ceil((max_id - min_id + 1) / max_train) and the
    kept residue is min_id's, so the sample is never empty. One 1-row
    (min, max) aggregate — the stride becomes a plan literal; no corpus
    movement happens before the bounded collect."""
    import math
    if sample_mod >= 1:
        if sample_mod > 1:
            d = d.where(F.col("id") % sample_mod == 0)
        return d
    lo, hi = d.agg(F.min("id"), F.max("id")).collect()[0]
    if lo is None:
        return d
    stride = max(1, math.ceil((int(hi) - int(lo) + 1) / max_train))
    if stride == 1:
        return d
    return d.where((F.col("id") - F.lit(int(lo))) % stride
                   == F.lit(0))


def _pq_codebooks(df: DataFrame, m: int = 8, ksub: int = 16, iters: int = 5,
                  sample_mod: int = 0, id_col: str = "vec_id",
                  vec_col: str = "embedding", max_train: int = 1 << 16):
    """Train PQ codebooks: split each UNIT-NORMALIZED vector into ``m``
    contiguous subvectors and run ``iters`` Lloyd rounds per subspace on a
    deterministic BOUNDED sample (<= ``max_train`` vectors by default —
    see _pq_train_sample; pass sample_mod explicitly to override, with
    sample_mod=1 the whole-corpus opt-in). Returns a float64 numpy array
    of shape (m, ksub, dim/m).

    Determinism: init = first ksub sample subvectors in id order; argmin
    ties resolve to the lowest code (numpy argmin); float64 accumulation
    over a fixed row order. Empty cells keep their previous centroid (the
    FAISS convention) so shapes never change. The sample collect is the
    bounded-metadata pattern (<= max_train x dim doubles), NOT a corpus
    collect — at 100 TB you train on ~6e4 vectors and encode 1e10, and
    that bound now holds BY DEFAULT, not by caller discipline."""
    import numpy as np
    d = _pq_train_sample(with_norm(df, id_col, vec_col), sample_mod,
                         max_train)
    rows = (d.select("id", F.expr("transform(v, x -> x / norm)").alias("u"))
            .orderBy("id").collect())
    X = np.asarray([r["u"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[:ksub].copy()
        if len(C) < ksub:  # degenerate tiny sample: pad by repetition
            C = np.resize(C, (ksub, dsub))
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            code = d2.argmin(axis=1)
            for c in range(ksub):
                mask = code == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books[j] = C
    return books


def pq_encode(df: DataFrame, books, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>): per-subspace nearest-codeword ids for every
    corpus vector (unit-normalized, matching training). Arrow-batched
    mapInPandas over the scan — embarrassingly parallel, no shuffle; the
    codebooks ride the closure (m*ksub*dsub doubles, metadata)."""
    import numpy as np
    import pandas as pd
    from typing import Iterator
    m, ksub, dsub = books.shape

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].astype("int64"),
                                "codes": list(codes)})

    d = with_norm(df, id_col, vec_col)
    unit = d.select("id", F.expr("transform(v, x -> x / norm)").alias("v"))
    return unit.mapInPandas(batches, "id bigint, codes array<int>")


def pq_topk(df: DataFrame, k: int = 5, m: int = 16, ksub: int = 32,
            refine: int = 8, id_col: str = "vec_id",
            vec_col: str = "embedding",
            max_query_id: int = 10, max_train: int = 1 << 16) -> DataFrame:
    """PQ-ADC approximate top-k: (query_id, neighbor_id, cos, rank) — the
    same output contract as brute_force_topk (self excluded, final rank by
    exact cosine desc / id asc), but the corpus is scanned as m-byte PQ
    codes, not vectors.

    Pipeline: (1) train codebooks on a bounded sample (pq_codebooks);
    (2) encode the corpus — narrow Arrow pass; (3) ADC scan: each query
    precomputes a lookup table LUT[j][c] = ||q_j - C[j][c]||^2 (on unit
    vectors L2^2 = 2 - 2 cos, so ascending ADC distance approximates
    descending cosine); per Arrow batch every code row costs m table
    lookups + a sum, and only the per-batch top refine*k candidates per
    query are EMITTED — the local-prune-then-merge shape, so the funnel
    carries (n_partitions + 1) * refine*k * n_queries rows, never the
    corpus; (4) a global window keeps refine*k ADC candidates per query;
    (5) exact cosine re-rank of those candidates against the true vectors
    (join keyed by id) restores exact scores — recall < 1 only from
    step 4's candidate cut — measured 0.92 at the defaults (m=16, ksub=32,
    refine=8) on the near-isotropic fixture, the hard regime for any
    quantizer (pytest bar 0.85; m=8/ksub=16 codes measured 0.62 there —
    tighter codes need either more refine or anisotropic real data).

    At 100 TB: steps 2-3 are narrow scans over 8-byte codes; nothing
    exchanges the corpus. Queries and LUTs are metadata (q x m x ksub
    doubles) broadcast in the task closure."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    d = with_norm(df, id_col, vec_col)
    # codebook training (min/max agg -> bounded sample collect -> driver
    # numpy Lloyd) and the query-row collect are independent — overlap
    # them (guide §2.6): the qrows job backfills while the training
    # chain's jobs/numpy run; results identical (fold order fixed)
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    books, qrows = run_concurrently([
        lambda: pq_codebooks(df, m=m, ksub=ksub, id_col=id_col,
                             vec_col=vec_col, max_train=max_train),
        lambda: (d.where(F.col("id") < max_query_id)
                 .select("id",
                         F.expr("transform(v, x -> x / norm)").alias("u"))
                 .orderBy("id").collect()),
    ])
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["u"] for r in qrows], dtype=np.float64)
    dsub = books.shape[2]
    # LUT[q, j, c] = squared L2 between query subvector and codeword
    lut = np.stack([((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
                      - books[j][None, :, :]) ** 2).sum(axis=2)
                    for j in range(books.shape[0])], axis=1)
    nkeep = refine * k

    m_books, _, _ = books.shape
    jidx = np.arange(m_books)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # encode + ADC fused in ONE Arrow pass (pq_encode stays the
        # standalone encode operator; fusing here halves the Python
        # worker round-trips — measured 9.4s -> ~5s at sf0.01)
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m_books), dtype=np.int64)
            for j in range(m_books):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            out = []
            for qi in range(len(qids)):
                # gather: dist[i] = sum_j LUT[qi, j, codes[i, j]]
                dist = lut[qi][jidx[None, :], codes].sum(axis=1)
                mask = ids != qids[qi]
                cand_ids, cand_d = ids[mask], dist[mask]
                if len(cand_ids) > nkeep:
                    # stable candidate cut: order by (dist, id)
                    order = np.lexsort((cand_ids, cand_d))[:nkeep]
                    cand_ids, cand_d = cand_ids[order], cand_d[order]
                out.append(pd.DataFrame(
                    {"query_id": qids[qi], "neighbor_id": cand_ids,
                     "adc_dist": cand_d}))
            if out:
                yield pd.concat(out)

    unit = d.select("id", F.expr("transform(v, x -> x / norm)").alias("v"))
    cands = unit.mapInPandas(
        scan, "query_id bigint, neighbor_id bigint, adc_dist double")
    return _adc_rerank(d, cands, nkeep, k, max_query_id)


def _adc_rerank(d: DataFrame, cands: DataFrame, nkeep: int, k: int,
                max_query_id: int) -> DataFrame:
    """The shared ADC-candidate funnel tail of every PQ search variant:
    global window keeps the nkeep best (adc_dist, id) candidates per
    query, then the SHORTLIST (refine*k*n_queries rows — bounded
    metadata) is broadcast so the true-vector lookup streams the corpus
    scan in place — no corpus exchange anywhere; exact cosine re-rank
    restores exact scores with deterministic (cos desc, id asc) ties."""
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    shortlist = (cands.withColumn("__r", F.row_number().over(wa))
                 .where(F.col("__r") <= nkeep).drop("__r", "adc_dist"))
    qa = (d.where(F.col("id") < max_query_id)
          .select(F.col("id").alias("query_id"), F.col("v").alias("qv"),
                  F.col("norm").alias("qnorm")))
    joined = (d.select(F.col("id").alias("neighbor_id"), "v", "norm")
              .join(F.broadcast(shortlist), "neighbor_id")
              .join(F.broadcast(qa), "query_id"))
    dot = F.aggregate(F.zip_with(F.col("qv"), F.col("v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    scored = joined.select("query_id", "neighbor_id",
                           (dot / (F.col("qnorm") * F.col("norm")))
                           .alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _recover_codes_dir(path: str, fs=None) -> None:
    """Crash-window recovery for the compact_index rename swap: if the
    live ``codes`` dir is missing but ``codes.old`` exists, the process
    died between the two swap renames — restore the old (complete) tree
    before any reader or appender touches the index. Without this, an
    append that ran first would recreate ``codes`` holding only its own
    new epoch, and a later compact would rmtree ``codes.old`` and
    permanently drop the base codes. Called by every path that inspects
    the epoch layout (_codes_epochs), so appends, searches, and stats
    all self-heal, not just compact_index itself. I/O goes through the
    fsio shim (HDFS/S3-capable when the caller passes the session's
    fs); scheme-less paths default to LocalFS."""
    import os
    fs = fs or get_fs(path)
    codes_dir = os.path.join(path, "codes")
    old = codes_dir + ".old"
    if not fs.isdir(codes_dir) and fs.isdir(old):
        fs.rename(old, codes_dir)


def _codes_epochs(path: str, fs=None) -> list[int]:
    """Sorted epoch ids present in a layout-v2 code table (epoch=N
    directories under codes/ — the base build is epoch=-1, every append
    its own epoch). Empty for a missing dir or the legacy flat layout.
    Restores a crash-windowed ``codes.old`` first (_recover_codes_dir)."""
    import os
    fs = fs or get_fs(path)
    _recover_codes_dir(path, fs)
    base = os.path.join(path, "codes")
    if not fs.isdir(base):
        return []
    out = []
    for n in fs.listdir(base):
        tail = n[len("epoch="):]
        if n.startswith("epoch=") and tail.lstrip("-").isdigit():
            out.append(int(tail))
    return sorted(out)


def write_pq_index(df: DataFrame, path: str, m: int = 16, ksub: int = 32,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_train: int = 1 << 16) -> None:
    """Encode once, search many: persist the PQ index as a parquet code
    table (id, codes — m uint8-range ints per vector, the 32x byte cut)
    plus a tiny JSON codebook sidecar. At 100 TB the encode pass is the
    expensive step (one narrow Arrow scan of the full corpus); this
    writes its result so every subsequent pq_index_topk SEARCHES the
    stored codes without re-encoding — the build-index/search split
    every production ANN deployment uses (FAISS index files, re-expressed
    as a Spark-native parquet layout).

    Layout (v2): codes live in EPOCH directories — the base build is
    ``codes/epoch=-1`` and every append writes its own ``epoch=N`` dir
    with OVERWRITE semantics, so an append (batch or streaming) replayed
    after a crash rewrites its own directory instead of double-counting
    — the same epoch-keyed idempotency discipline as the ingest-dedup
    monitor's state. Readers scan the codes root; Spark discovers
    ``epoch`` as a partition column and the search kernels ignore it.

    The sidecar write is write-then-rename (atomic): a crashed build
    leaves no half-readable index. Codebooks train on the bounded
    default sample (pq_codebooks)."""
    import json
    import os
    fs = get_fs(path, df.sparkSession)
    books = pq_codebooks(df, m=m, ksub=ksub, id_col=id_col,
                         vec_col=vec_col, max_train=max_train)
    # a REbuild must clear any appended epoch dirs from a prior life of
    # this path — epoch=-1 overwrite alone would leave them visible
    fs.delete(os.path.join(path, "codes"))
    (pq_encode(df, books, id_col=id_col, vec_col=vec_col)
     .write.mode("overwrite")
     .parquet(os.path.join(path, "codes", "epoch=-1")))
    meta = {"m": int(books.shape[0]), "ksub": int(books.shape[1]),
            "dsub": int(books.shape[2]), "books": books.tolist()}
    fs.write_text_atomic(os.path.join(path, "meta.json"),
                         json.dumps(meta))


def pq_index_topk(df: DataFrame, path: str, k: int = 5, refine: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  max_query_id: int = 10) -> DataFrame:
    """ADC top-k over a PERSISTED PQ index (write_pq_index): same output
    contract as pq_topk — (query_id, neighbor_id, cos, rank), self
    excluded, exact cosine re-rank — but the corpus scan reads the
    STORED m-int code table, never the vectors, and nothing re-encodes.
    Queries and the exact re-rank still come from ``df`` (the source
    table owns the true vectors; the index stores only codes).

    Given the same (df, m, ksub) the codebooks memoize identically, so
    pq_index_topk == pq_topk EXACTLY (pytest-pinned): the stored codes
    are the same deterministic argmins the fused scan computes, and the
    candidate funnel is batch-layout-independent (per-batch local prune
    can only drop candidates outside the global top nkeep)."""
    import json
    import os

    import numpy as np
    import pandas as pd
    from typing import Iterator

    fs = get_fs(path, df.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    books = np.asarray(meta["books"], dtype=np.float64)
    dsub = books.shape[2]
    d = with_norm(df, id_col, vec_col)
    qrows = (d.where(F.col("id") < max_query_id)
             .select("id", F.expr("transform(v, x -> x / norm)").alias("u"))
             .orderBy("id").collect())
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["u"] for r in qrows], dtype=np.float64)
    lut = np.stack([((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
                      - books[j][None, :, :]) ** 2).sum(axis=2)
                    for j in range(books.shape[0])], axis=1)
    nkeep = refine * k
    jidx = np.arange(books.shape[0])

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)
            out = []
            for qi in range(len(qids)):
                dist = lut[qi][jidx[None, :], codes].sum(axis=1)
                mask = ids != qids[qi]
                cand_ids, cand_d = ids[mask], dist[mask]
                if len(cand_ids) > nkeep:
                    order = np.lexsort((cand_ids, cand_d))[:nkeep]
                    cand_ids, cand_d = cand_ids[order], cand_d[order]
                out.append(pd.DataFrame(
                    {"query_id": qids[qi], "neighbor_id": cand_ids,
                     "adc_dist": cand_d}))
            if out:
                yield pd.concat(out)

    _recover_codes_dir(path, fs)
    codes_df = df.sparkSession.read.parquet(os.path.join(path, "codes"))
    cands = codes_df.mapInPandas(
        scan, "query_id bigint, neighbor_id bigint, adc_dist double")
    return _adc_rerank(d, cands, nkeep, k, max_query_id)


def append_pq_index(df_new: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    epoch: int | None = None) -> None:
    """Incremental index growth: encode ONLY the new vectors with the
    index's EXISTING codebooks and append their codes — the daily-ingest
    path. Codebooks are deliberately NOT retrained (the standard
    practice: an encode is cheap per batch, a codebook change would
    force re-encoding everything already stored; codebook drift against
    newer data is what pq_index_calibration measures). Caller contract:
    new ids are disjoint from the stored ids (e.g. monotone ingest ids)
    — the index does not dedupe.

    Each append writes its OWN ``codes/epoch=N`` directory with
    overwrite semantics (``epoch`` defaults to max existing + 1; the
    streaming sink passes its offset epoch explicitly) — a replayed
    epoch rewrites itself, never double-appends. Appending WITHOUT a
    pinned epoch to a legacy flat-layout index (pre-epoch dirs) falls
    back to a plain parquet append; an EXPLICIT epoch on that layout
    raises instead — the caller pinned it for crash-replay idempotency
    (the streaming sink does), and a silent mode('append') fallback
    would double-append on replay."""
    import json
    import os

    import numpy as np
    fs = get_fs(path, df_new.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    books = np.asarray(meta["books"], dtype=np.float64)
    enc = pq_encode(df_new, books, id_col=id_col, vec_col=vec_col)
    epochs = _codes_epochs(path, fs)
    if not epochs and fs.isdir(os.path.join(path, "codes")):
        _require_no_pinned_epoch_on_legacy(epoch, path)
        enc.write.mode("append").parquet(os.path.join(path, "codes"))
        return
    if epoch is None:
        epoch = (epochs[-1] + 1) if epochs else 0
    enc.write.mode("overwrite").parquet(
        os.path.join(path, "codes", f"epoch={epoch}"))


def _require_no_pinned_epoch_on_legacy(epoch: int | None,
                                       path: str) -> None:
    """A pinned epoch is a replay-idempotency contract (epoch=N rewrites
    its own directory); the legacy flat layout has no epoch directories,
    so honoring the pin is impossible and degrading to mode('append')
    would double-append on a replayed micro-batch. Raise loudly: the fix
    is a one-time compact_index(path) migration into the epoch layout."""
    if epoch is not None:
        raise ValueError(
            f"index at {path!r} has the legacy flat code layout: cannot "
            f"honor pinned epoch {epoch} (idempotent replay needs "
            "epoch directories). Run compact_index(spark, path) once to "
            "migrate, then re-attach the stream.")


def append_ivf_pq_index(df_new: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        epoch: int | None = None) -> None:
    """Incremental growth of a cell-partitioned IVF-PQ index: assign the
    new vectors to cells with the index's STORED centroids (the same
    ranked_cells_expr literals searches use), encode with the stored
    codebooks, and append into the per-cell partition directories under
    the append's own ``epoch=N`` directory. Same no-retrain /
    disjoint-ids / epoch-idempotency contract as append_pq_index."""
    import json
    import os

    import numpy as np
    import pandas as pd
    from typing import Iterator
    fs = get_fs(path, df_new.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    books = np.asarray(meta["books"], dtype=np.float64)
    m_books, _, dsub = books.shape
    d = with_norm(df_new, id_col, vec_col)
    ranked = ranked_cells_expr(meta["cells"])
    assigned = d.select(
        "id", F.expr("transform(v, x -> x / norm)").alias("v"),
        ranked[0]["cell_id"].alias("cell_id"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m_books), dtype=np.int32)
            for j in range(m_books):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].astype("int64"),
                                "cell_id": pdf["cell_id"].astype("int64"),
                                "codes": list(codes)})

    enc = assigned.mapInPandas(
        batches, "id bigint, cell_id bigint, codes array<int>")
    epochs = _codes_epochs(path, fs)
    if not epochs and fs.isdir(os.path.join(path, "codes")):
        _require_no_pinned_epoch_on_legacy(epoch, path)
        (enc.write.mode("append").partitionBy("cell_id")
         .parquet(os.path.join(path, "codes")))
        return
    if epoch is None:
        epoch = (epochs[-1] + 1) if epochs else 0
    (enc.write.mode("overwrite").partitionBy("cell_id")
     .parquet(os.path.join(path, "codes", f"epoch={epoch}")))


def compact_index(spark, path: str, target_files: int = 8,
                  keep_epochs_from: int | None = None) -> dict:
    """Close the epoch-dir layout's small-file debt: rewrite ALL epochs'
    stored codes into a fresh single base epoch (``codes/epoch=-1``)
    with a bounded file count — N retrain-free appends leave N epoch
    directories (x cells for IVF-PQ; a year of daily appends is ~365
    dirs of small parquet files), and this is the remediation the
    ``index_stats.n_appends`` counter points at. NO re-encode: the codes
    are already encoded and the codebooks/centroids don't change, so
    searches over the compacted index return EXACTLY what they returned
    before (the scan kernels are batch-layout-independent;
    pytest-pinned) — compaction is a pure I/O-layout rewrite, the cheap
    lifecycle step next to rebuild_index's full retrain. Also migrates a
    legacy flat layout into the epoch layout (the fix the pinned-epoch
    append guard demands).

    Shape: one scan of the code table (codes only, never vectors), one
    repartition to ``target_files`` tasks (hashed by cell_id for IVF-PQ,
    so each cell's rows land in ONE task = one file per cell directory),
    one write. Swap is rename-based: the new base is fully written
    before the old directories move aside; a crash mid-swap leaves a
    complete copy on disk (``codes`` or ``codes.old``) — kept live
    epochs are COPIED (not moved) into the staging tree, so the live
    ``codes`` dir stays complete until the single swap rename and the
    staging dir never holds the only copy of anything (its rmtree is
    always safe) — and any reader/appender/compact call RESTORES a
    missing ``codes`` from ``codes.old`` before proceeding
    (_recover_codes_dir). All maintenance I/O goes through the fsio
    shim: scheme'd paths (hdfs:// s3a:// ...) use the session's Hadoop
    FileSystem — the same connector Spark's writers use. Object-store
    caveat: S3-family rename is copy+delete (``fs.atomic_rename`` is
    False there), so the swap loses its single-instant cutover and
    relies entirely on the single-writer contract plus codes.old
    self-healing; on HDFS and POSIX the rename is atomic as documented.
    Single-writer maintenance contract, same as the
    appends: stop any attached stream (checkpoint committed) before a
    FULL compaction, since a replay of an uncommitted micro-batch after
    its epoch was folded into the base would double-append.

    ``keep_epochs_from``: fold only epochs STRICTLY BELOW this value
    into the new base and keep the rest as live epoch directories —
    the generational mode the streaming index-append sink uses (it
    keeps its current, not-yet-checkpointed epoch out of the fold so a
    crash replay stays idempotent). Pinned stream offsets are cleared
    only on a FULL compaction (generational folds leave the epoch
    numbering of everything kept — and everything future — intact).

    Returns {"n_epochs_before", "n_files_before", "n_files_after"}."""
    import json
    import os

    fs = get_fs(path, spark)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    codes_dir = os.path.join(path, "codes")
    old = codes_dir + ".old"
    _recover_codes_dir(path, fs)
    n_before = fs.count_files(codes_dir)
    epochs_before = _codes_epochs(path, fs)
    if keep_epochs_from is None:
        fold, keep = epochs_before, []
        codes = spark.read.parquet(codes_dir)
    else:
        fold = [e for e in epochs_before if e < keep_epochs_from]
        keep = [e for e in epochs_before if e >= keep_epochs_from]
        if not fold:
            return {"n_epochs_before": len(epochs_before),
                    "n_files_before": n_before,
                    "n_files_after": n_before}
        codes = spark.read.parquet(
            *[os.path.join(codes_dir, f"epoch={e}") for e in fold])
    if "epoch" in codes.columns:
        codes = codes.drop("epoch")
    tmp = codes_dir + ".compact.tmp"
    fs.delete(tmp)
    if "cells" in meta:
        (codes.repartition(target_files, "cell_id")
         .write.mode("overwrite").partitionBy("cell_id")
         .parquet(os.path.join(tmp, "epoch=-1")))
    else:
        (codes.repartition(target_files)
         .write.mode("overwrite")
         .parquet(os.path.join(tmp, "epoch=-1")))
    for e in keep:
        # carry live epochs into the new tree by COPY, not rename: a
        # rename would make the staging tmp the ONLY copy of committed
        # appended vectors during the swap window (and the next run's
        # rmtree(tmp) would destroy it) — copying keeps codes/ complete
        # until the swap, so every crash point leaves a full tree in
        # codes or codes.old. Kept epochs are the recent live appends
        # (small by construction), so the copy cost is bounded.
        fs.copytree(os.path.join(codes_dir, f"epoch={e}"),
                    os.path.join(tmp, f"epoch={e}"))
    # r10 (VERDICT ask #2): the two-rename cutover below is atomic on
    # POSIX/HDFS but copy+delete on S3-family stores — surface the
    # degraded regime instead of only documenting it
    warn_non_atomic(fs, path, "compact_index swap")
    fs.delete(old)
    fs.rename(codes_dir, old)
    fs.rename(tmp, codes_dir)
    fs.delete(old)
    if keep_epochs_from is None:
        # every append epoch is folded into the base: pinned stream
        # offsets no longer name real directories — attachments re-key
        _clear_stream_runs(path, fs)
    return {"n_epochs_before": len(epochs_before),
            "n_files_before": n_before,
            "n_files_after": fs.count_files(codes_dir)}


def rebuild_index(df: DataFrame, path: str, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  max_train: int = 1 << 16,
                  n_cells: int | None = None, m: int | None = None,
                  ksub: int | None = None) -> None:
    """The full lifecycle remediation the drift alarms recommend:
    RETRAIN the codebooks (and centroids, for IVF-PQ) on the CURRENT
    corpus ``df`` — including everything appended since the original
    build — and re-encode from scratch. Geometry defaults to the
    index's own sidecar (m, ksub, n_cells), and each knob can be
    OVERRIDDEN: after the corpus grows 10x, the right remediation is
    often a BIGGER index, not a same-shape retrain — ``fill_skew`` may
    look healthy while every cell is simply 10x overfull and the
    n_probe/n_cells pruning ratio stops paying; rebuilding at, say,
    ``n_cells=2 * old`` halves the mean per-cell fill and restores the
    probe bound as a real disk bound (pytest-pinned: a geometry-
    overridden rebuild equals a fresh build at the new geometry
    exactly, deterministic training). After appends drifted away from
    the original training distribution (``pq_index_calibration`` error
    up, ``index_stats.fill_skew`` up), a rebuild returns both to
    fresh-build level (pytest-pinned on the round-7 drifted fixture);
    compact_index is the cheap no-retrain alternative when only the
    file layout aged. Expensive by design — one full encode pass over
    the corpus, the same cost as the original build — which is exactly
    why the alarms exist to tell you WHEN it is worth paying. The
    sidecar is rewritten atomically with the new geometry
    (write-then-rename inside the build). Attached streams must
    re-attach with a fresh checkpoint afterwards (the rebuild clears
    pinned stream offsets: every stored code was re-derived, so old
    replay bookkeeping is meaningless). ``n_cells`` on a flat PQ index
    raises: cell geometry is an IVF concept — build an IVF-PQ index
    under a new path for that migration."""
    import json
    import os

    fs = get_fs(path, df.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    if "cells" not in meta and n_cells is not None:
        raise ValueError(
            "rebuild_index: n_cells override on a flat PQ index — cell "
            "geometry is an IVF-PQ concept; write_ivf_pq_index under a "
            "new path is the flat->IVF migration")
    if "cells" in meta:
        write_ivf_pq_index(
            df, path,
            n_cells=int(n_cells) if n_cells is not None
            else len(meta["cells"]),
            m=int(m if m is not None else meta["m"]),
            ksub=int(ksub if ksub is not None else meta["ksub"]),
            iters=iters, id_col=id_col, vec_col=vec_col,
            max_train=max_train)
    else:
        write_pq_index(
            df, path,
            m=int(m if m is not None else meta["m"]),
            ksub=int(ksub if ksub is not None else meta["ksub"]),
            id_col=id_col, vec_col=vec_col, max_train=max_train)
    _clear_stream_runs(path, fs)


def _clear_stream_runs(path: str, fs=None) -> None:
    """Drop pinned streaming-append offsets: after a compact (epochs
    folded) or rebuild (codes re-derived) the old offsets no longer
    describe the directory layout, and a resumed stream reusing one
    could collide with or double-count folded epochs."""
    import os
    (fs or get_fs(path)).remove_if_exists(
        os.path.join(path, "stream_runs.json"))


def write_ivf_pq_index(df: DataFrame, path: str, n_cells: int = 16,
                       m: int = 16, ksub: int = 32, iters: int = 2,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_train: int = 1 << 16) -> None:
    """Persist the full IVF-PQ index: the code table written PARTITIONED
    BY cell_id (one directory per IVF cell, under the base build's
    ``epoch=-1`` — see write_pq_index for the epoch layout appends and
    the streaming sink rely on), plus a JSON sidecar holding the PQ
    codebooks AND the sig6-rounded centroids. Partitioning by cell turns
    the IVF probe bound into DISK-level pruning: a search with n_probe=4
    of 16 cells reads 1/4 of the index FILES — the scan's
    PartitionFilters row is the plan-visible proof (pytest-pinned). This
    is the FAISS IVFx,PQy index file re-expressed as a Spark-native
    layout: build once (one narrow assign+encode Arrow pass over the
    corpus), search many.

    Sidecar write is write-then-rename; a crashed build leaves no
    half-readable index. Centroid floats JSON-round-trip exactly
    (shortest-repr doubles), so reloaded searches inline the SAME
    literals as the fused operator."""
    import json
    import os

    import numpy as np
    import pandas as pd
    from typing import Iterator
    # centroid training (Lloyd rounds over raw vectors) and PQ codebook
    # training (stride sample of normalized vectors) are independent
    # bounded chains — overlap them (guide §2.6); both memoize, so
    # repeated builds on the same input still hit the memo
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    crows, books = run_concurrently([
        lambda: kmeans_centroid_rows(df, n_cells=n_cells, iters=iters,
                                     id_col=id_col, vec_col=vec_col),
        lambda: pq_codebooks(df, m=m, ksub=ksub, id_col=id_col,
                             vec_col=vec_col, max_train=max_train),
    ])
    d = with_norm(df, id_col, vec_col)
    ranked = ranked_cells_expr(crows)
    assigned = d.select(
        "id", F.expr("transform(v, x -> x / norm)").alias("v"),
        ranked[0]["cell_id"].alias("cell_id"))
    m_books, _, dsub = books.shape

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m_books), dtype=np.int32)
            for j in range(m_books):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].astype("int64"),
                                "cell_id": pdf["cell_id"].astype("int64"),
                                "codes": list(codes)})

    enc = assigned.mapInPandas(
        batches, "id bigint, cell_id bigint, codes array<int>")
    fs = get_fs(path, df.sparkSession)
    fs.delete(os.path.join(path, "codes"))
    (enc.write.mode("overwrite").partitionBy("cell_id")
     .parquet(os.path.join(path, "codes", "epoch=-1")))
    meta = {"m": int(m_books), "ksub": int(books.shape[1]),
            "dsub": int(dsub), "books": books.tolist(),
            "cells": [{"cell_id": int(r["cell_id"]),
                       "cv": [float(x) for x in r["cv"]],
                       "cnorm": float(r["cnorm"])} for r in crows]}
    fs.write_text_atomic(os.path.join(path, "meta.json"),
                         json.dumps(meta))


def ivf_pq_index_topk(df: DataFrame, path: str, k: int = 5,
                      n_probe: int = 4, refine: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      max_query_id: int = 10) -> DataFrame:
    """IVF-PQ search over a PERSISTED index (write_ivf_pq_index): same
    contract as ivf_pq_topk, but the corpus scan reads ONLY the probed
    cells' partitions of the stored code table — partition pruning makes
    the probe bound a disk-I/O bound, and nothing re-assigns or
    re-encodes. Queries probe via the SAME ranked_cells_expr over the
    sidecar centroids the fused operator uses (identical inlined
    literals), so index search == fused search EXACTLY (pytest-pinned)."""
    import json
    import os

    import numpy as np
    import pandas as pd
    from typing import Iterator

    fs = get_fs(path, df.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    books = np.asarray(meta["books"], dtype=np.float64)
    dsub = books.shape[2]
    d = with_norm(df, id_col, vec_col)
    ranked = ranked_cells_expr(meta["cells"])
    qrows = (d.where(F.col("id") < max_query_id)
             .select("id",
                     F.expr("transform(v, x -> x / norm)").alias("u"),
                     F.slice(F.transform(ranked, lambda s: s["cell_id"]),
                             1, n_probe).alias("probes"))
             .orderBy("id").collect())
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["u"] for r in qrows], dtype=np.float64)
    probe_sets = [frozenset(int(c) for c in r["probes"]) for r in qrows]
    probe_union = sorted({c for s in probe_sets for c in s})
    lut = np.stack([((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
                      - books[j][None, :, :]) ** 2).sum(axis=2)
                    for j in range(books.shape[0])], axis=1)
    nkeep = refine * k
    jidx = np.arange(books.shape[0])

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            cells = pdf["cell_id"].to_numpy()
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)
            out = []
            for qi in range(len(qids)):
                pr = probe_sets[qi]
                mask = np.array([c in pr for c in cells]) \
                    & (ids != qids[qi])
                if not mask.any():
                    continue
                dist = lut[qi][jidx[None, :], codes[mask]].sum(axis=1)
                cand_ids = ids[mask]
                if len(cand_ids) > nkeep:
                    order = np.lexsort((cand_ids, dist))[:nkeep]
                    cand_ids, dist = cand_ids[order], dist[order]
                out.append(pd.DataFrame(
                    {"query_id": qids[qi], "neighbor_id": cand_ids,
                     "adc_dist": dist}))
            if out:
                yield pd.concat(out)

    _recover_codes_dir(path, fs)
    codes_df = (df.sparkSession.read
                .parquet(os.path.join(path, "codes"))
                .where(F.col("cell_id").isin(probe_union)))
    cands = codes_df.mapInPandas(
        scan, "query_id bigint, neighbor_id bigint, adc_dist double")
    return _adc_rerank(d, cands, nkeep, k, max_query_id)


def pq_calibration(df: DataFrame, m: int = 16, ksub: int = 32,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_query_id: int = 10, max_probe: int = 1 << 14,
                   max_train: int = 1 << 16) -> DataFrame:
    """Codebook-quality diagnostic: per query, how far the PQ-ADC cosine
    ESTIMATE sits from the exact cosine over a bounded deterministic
    probe sample of the corpus — the pre-flight check a 100 TB run does
    BEFORE committing to the full encode pass (the MinHash-calibration
    analogue for the PQ family: dedup.lsh_calibration validates band
    thresholds the same way). On unit vectors ADC L2^2 = 2 - 2 cos, so
    est_cos = 1 - adc/2. Output per query (query_id, n_pairs,
    mean_abs_err, max_abs_err, mean_exact_cos, mean_est_cos); mean
    |est - exact| at the defaults is the pytest-pinned bar.

    Shape: codebooks train on the bounded default sample (pq_codebooks);
    the probe set is stride-sampled to <= max_probe rows by the SAME id-
    range rule (never a corpus pass); ONE fused Arrow pass encodes each
    probe row, takes its ADC estimate AND its exact dot against every
    query (both from data already in the batch), and emits per-batch
    PARTIAL sums — the rows that shuffle number n_batches x n_queries,
    never the probe set. Self-pairs excluded. Rows-only (the codebooks
    are numpy state no SQL engine can mirror); pytest pins the bound."""
    books = pq_codebooks(df, m=m, ksub=ksub, id_col=id_col,
                         vec_col=vec_col, max_train=max_train)
    return _adc_probe_error(with_norm(df, id_col, vec_col), books,
                            max_query_id, max_probe)


def _adc_probe_error(d: DataFrame, books, max_query_id: int,
                     max_probe: int) -> DataFrame:
    """The shared ADC-vs-exact error core of pq_calibration and
    pq_index_calibration: given a normalized frame ``d`` (with_norm
    output) and a set of codebooks — freshly trained or loaded from a
    persisted index's sidecar — score a stride-bounded probe sample's
    ADC cosine estimates against exact cosines per query. See
    pq_calibration for the output contract and the cost shape."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from flink_descriptive_stats_spark.functions.sig import sig6

    # the query-row collect and the probe sample's stride aggregate are
    # independent bounded jobs — overlap them (guide §2.6)
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    qrows, probe = run_concurrently([
        lambda: (d.where(F.col("id") < max_query_id)
                 .select("id",
                         F.expr("transform(v, x -> x / norm)").alias("u"))
                 .orderBy("id").collect()),
        lambda: _pq_train_sample(d, 0, max_probe),
    ])
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["u"] for r in qrows], dtype=np.float64)
    dsub = books.shape[2]
    lut = np.stack([((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
                      - books[j][None, :, :]) ** 2).sum(axis=2)
                    for j in range(books.shape[0])], axis=1)
    m_books = books.shape[0]
    jidx = np.arange(m_books)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m_books), dtype=np.int64)
            for j in range(m_books):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            exact = X @ Q.T  # (n_rows, n_queries) exact cosines
            out = []
            for qi in range(len(qids)):
                mask = ids != qids[qi]
                if not mask.any():
                    continue
                est = 1.0 - lut[qi][jidx[None, :], codes[mask]
                                    ].sum(axis=1) / 2.0
                err = np.abs(est - exact[mask, qi])
                out.append({"query_id": int(qids[qi]),
                            "n": int(mask.sum()),
                            "s_err": float(err.sum()),
                            "mx_err": float(err.max()),
                            "s_exact": float(exact[mask, qi].sum()),
                            "s_est": float(est.sum())})
            if out:
                yield pd.DataFrame(out)

    unit = probe.select(
        "id", F.expr("transform(v, x -> x / norm)").alias("v"))
    parts = unit.mapInPandas(
        scan, "query_id bigint, n bigint, s_err double, mx_err double, "
              "s_exact double, s_est double")
    agg = (parts.groupBy("query_id")
           .agg(F.sum("n").alias("n_pairs"),
                F.sum("s_err").alias("s_err"),
                F.max("mx_err").alias("mx"),
                F.sum("s_exact").alias("s_ex"),
                F.sum("s_est").alias("s_es")))
    nd = F.col("n_pairs").cast("double")
    return agg.select(
        "query_id", "n_pairs",
        sig6(F.col("s_err") / nd).alias("mean_abs_err"),
        sig6(F.col("mx")).alias("max_abs_err"),
        sig6(F.col("s_ex") / nd).alias("mean_exact_cos"),
        sig6(F.col("s_es") / nd).alias("mean_est_cos"))


def pq_index_calibration(df: DataFrame, path: str,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_query_id: int = 10,
                         max_probe: int = 1 << 14) -> DataFrame:
    """pq_calibration against a PERSISTED index's STORED codebooks: the
    post-append health check. pq_calibration answers "are codebooks of
    this size good enough for this corpus?" BEFORE a build; this answers
    "are the books this index actually stores still good for the corpus
    it now serves?" AFTER retrain-free appends (append_pq_index /
    append_ivf_pq_index encode deltas with the original books, so a
    drifting ingest distribution degrades quantization silently — this
    is the signal that says rebuild). Same output contract and probe
    shape as pq_calibration; ``df`` should be the CURRENT corpus
    (including appended deltas) so the stride sample covers what the
    index serves. Works for both index kinds — the sidecar's "books"
    key is common. Rows-only; the rising-error-after-drifted-append
    behavior is pytest-pinned."""
    import json
    import os

    import numpy as np
    fs = get_fs(path, df.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    books = np.asarray(meta["books"], dtype=np.float64)
    return _adc_probe_error(with_norm(df, id_col, vec_col), books,
                            max_query_id, max_probe)


def index_recall_calibration(df: DataFrame, path: str, k: int = 5,
                             n_probes: tuple = (1, 2, 4, 8),
                             refine: int = 8, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_query_id: int = 10) -> DataFrame:
    """Measured recall@k of a PERSISTED IVF-PQ index against exact
    brute-force ground truth, swept over an ``n_probe`` grid — the
    missing END metric of the lifecycle instrument family: index_stats
    reports the cell-fill shape, pq_index_calibration the quantization
    error, and this reports what those actually COST in search quality
    and what raising n_probe buys back (the FAISS nprobe tuning sweep,
    run before committing a 100 TB deployment to a probe budget).
    Output: (n_probe, k, recall) rows, recall = mean over the bounded
    query sample of |index top-k ∩ exact top-k| / k, sig6-rendered.

    Cost shape: ONE exact brute-force pass on the bounded query sample
    (broadcast queries, corpus streams — the ground truth), then one
    partition-pruned index search per grid point; the driver compares
    queries x k id sets (metadata-scale). Recall is monotone
    non-decreasing in n_probe up to funnel-shortlist effects and
    reaches the refine-bound ceiling at n_probe = n_cells
    (pytest-pinned on the drifted fixture). Rows-only by nature (no
    SQL engine ranks by IVF-PQ ADC)."""
    import json
    import os

    from flink_descriptive_stats_spark.functions.sig import sig6_py
    fs = get_fs(path, df.sparkSession)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    if "cells" not in meta:
        raise ValueError(
            "index_recall_calibration: flat PQ index has no n_probe "
            "knob — its recall/cost trade is the pq_index_topk "
            "`refine` parameter; run index_refine_calibration (the "
            "refine sweep) on flat indexes")
    # the ground-truth pass and every grid point are independent bounded
    # searches — overlap them from driver threads (guide §2.6) instead of
    # chaining 1 + len(n_probes) collect latencies; the recall fold below
    # reads results in grid order, so the output is byte-identical
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently

    def _search(n_probe: int):
        return ivf_pq_index_topk(df, path, k=k, n_probe=n_probe,
                                 refine=refine, id_col=id_col,
                                 vec_col=vec_col,
                                 max_query_id=max_query_id).collect()

    truth_rows, *grid = run_concurrently(
        [lambda: brute_force_topk(df, k=k, id_col=id_col, vec_col=vec_col,
                                  max_query_id=max_query_id).collect()]
        + [lambda p=int(n_probe): _search(p) for n_probe in n_probes])
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(int(r["query_id"]), set()).add(
            int(r["neighbor_id"]))
    rows = []
    for n_probe, got_rows in zip(n_probes, grid):
        got: dict = {}
        for r in got_rows:
            got.setdefault(int(r["query_id"]), set()).add(
                int(r["neighbor_id"]))
        recalls = [len(got.get(q, set()) & t) / len(t)
                   for q, t in truth.items() if t]
        rows.append((int(n_probe), int(k),
                     sig6_py(sum(recalls) / len(recalls))
                     if recalls else None))
    return df.sparkSession.createDataFrame(
        rows, "n_probe int, k int, recall string")


def index_refine_calibration(df: DataFrame, path: str, k: int = 5,
                             refines: tuple = (1, 2, 4, 8),
                             n_probe: int | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_query_id: int = 10) -> DataFrame:
    """Measured recall@k swept over the ``refine`` grid — the missing
    recall instrument for FLAT PQ indexes (VERDICT r9 ask #5):
    index_recall_calibration's raise names ``refine`` as flat PQ's
    recall/cost knob, and this is the sweep that measures what each
    refine level actually buys. ``refine`` sizes the ADC candidate
    shortlist (refine*k per query) that gets exact-cosine re-ranked,
    so recall is monotone non-decreasing in refine and reaches 1.0
    once refine*k covers the corpus (both pytest-pinned) — the
    quantization error can hide a true neighbor from the shortlist,
    and raising refine is the remediation the pq_index_calibration
    alarm points at when a rebuild is not yet worth paying.

    Works for BOTH persisted kinds, because refine matters to both:
    flat PQ sweeps pq_index_topk; IVF-PQ sweeps ivf_pq_index_topk at a
    FIXED probe budget (``n_probe``, default all cells so refine is
    the only moving knob — pair with index_recall_calibration to
    sweep the other axis). Cost shape: one exact brute-force pass on
    the bounded query sample, then one code-table scan per grid
    point; the driver compares queries x k id sets (metadata-scale).
    Output (refine, k, recall) rows; rows-only by nature (no SQL
    engine ranks by ADC)."""
    import json
    import os

    from flink_descriptive_stats_spark.functions.sig import sig6_py
    fs = get_fs(path, df.sparkSession)
    meta = json.loads(
        read_text_recovering(fs, os.path.join(path, "meta.json")))
    if "cells" in meta:
        probe = int(n_probe) if n_probe is not None else len(meta["cells"])

        def search(r: int) -> DataFrame:
            return ivf_pq_index_topk(df, path, k=k, n_probe=probe,
                                     refine=r, id_col=id_col,
                                     vec_col=vec_col,
                                     max_query_id=max_query_id)
    else:
        if n_probe is not None:
            raise ValueError(
                "index_refine_calibration: n_probe on a flat PQ index — "
                "probing is an IVF-PQ concept; this sweep's only knob "
                "here is refine")

        def search(r: int) -> DataFrame:
            return pq_index_topk(df, path, k=k, refine=r, id_col=id_col,
                                 vec_col=vec_col,
                                 max_query_id=max_query_id)
    # ground truth + one code-table scan per grid point: independent
    # bounded searches, overlapped from driver threads (guide §2.6);
    # results are folded in grid order so the output is byte-identical
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    truth_rows, *grid = run_concurrently(
        [lambda: brute_force_topk(df, k=k, id_col=id_col, vec_col=vec_col,
                                  max_query_id=max_query_id).collect()]
        + [lambda rr=int(refine): search(rr).collect()
           for refine in refines])
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(int(r["query_id"]), set()).add(
            int(r["neighbor_id"]))
    rows = []
    for refine, got_rows in zip(refines, grid):
        got: dict = {}
        for r in got_rows:
            got.setdefault(int(r["query_id"]), set()).add(
                int(r["neighbor_id"]))
        recalls = [len(got.get(q, set()) & t) / len(t)
                   for q, t in truth.items() if t]
        rows.append((int(refine), int(k),
                     sig6_py(sum(recalls) / len(recalls))
                     if recalls else None))
    return df.sparkSession.createDataFrame(
        rows, "refine int, k int, recall string")


def index_stats(spark, path: str) -> DataFrame:
    """Persisted-index health datasheet: (metric, value) rows read from
    the sidecar + ONE bounded aggregate over the stored code table — the
    dataset_card of an index. Reports the codebook geometry (m, ksub,
    dsub), n_vectors, and for IVF-PQ the cell-fill picture: n_cells
    (declared) vs n_cells_used, max/mean/min cell size, fill_skew
    (max/mean — the probe-cost hot-spot indicator: a search probing the
    fattest cell scans fill_skew x the average I/O), and empty_cells.
    Appends assign new vectors with the ORIGINAL centroids, so a
    drifting ingest concentrates into few cells — fill_skew rising
    across appends is the rebuild signal, complementing
    pq_index_calibration's quantization-error signal.

    Cost shape: the cell histogram is one groupBy(cell_id) count —
    <= n_cells result rows, partition-column-only (for the partitioned
    layout the scan never touches code bytes); everything else is
    sidecar JSON. Values render as integer strings / sig6 fractions
    (the dataset_card convention)."""
    import json
    import os

    from flink_descriptive_stats_spark.functions.sig import sig6_py
    fs = get_fs(path, spark)
    meta = json.loads(read_text_recovering(fs, os.path.join(path, "meta.json")))
    epochs = _codes_epochs(path, fs)      # also self-heals codes.old
    codes = spark.read.parquet(os.path.join(path, "codes"))
    rows = [("kind", "ivf_pq" if "cells" in meta else "pq"),
            ("m", str(int(meta["m"]))),
            ("ksub", str(int(meta["ksub"]))),
            ("dsub", str(int(meta["dsub"]))),
            # lifecycle: base build is epoch -1, every (batch or
            # streaming) append its own epoch dir — n_appends rising
            # is the cue to read fill_skew and the calibration error
            ("n_epochs", str(len(epochs))),
            ("n_appends", str(max(0, len(epochs) - 1)))]
    if "cells" in meta:
        hist = (codes.groupBy("cell_id")
                .agg(F.count(F.lit(1)).alias("n")).collect())
        sizes = [int(r["n"]) for r in hist]
        n_vec = sum(sizes)
        declared = len(meta["cells"])
        mean = n_vec / declared if declared else 0.0
        rows += [
            ("n_vectors", str(n_vec)),
            ("n_cells", str(declared)),
            ("n_cells_used", str(len(sizes))),
            ("empty_cells", str(declared - len(sizes))),
            ("max_cell", str(max(sizes) if sizes else 0)),
            ("min_cell", str(min(sizes) if sizes else 0)),
            ("mean_cell", sig6_py(mean)),
            ("fill_skew", sig6_py((max(sizes) / mean)
                                  if sizes and mean else None)),
        ]
    else:
        rows.append(("n_vectors", str(codes.count())))
    return spark.createDataFrame(rows, "metric string, value string")


def label_separation(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Embedding-space class-separability diagnostic: per label,
    (label, n, within_ss, between_ss, fisher_ratio) where within_ss is
    the average squared distance of the label's vectors to their own
    centroid (sum over dims of per-dim variance), between_ss the squared
    distance of the label centroid to the GLOBAL centroid, and
    fisher_ratio = between_ss / within_ss — the per-class view of
    Fisher's discriminant criterion. Low ratios mean the labels are not
    linearly separable in this embedding space (a curation signal:
    cluster-balanced sampling or a classifier head on these vectors will
    underperform); it is also the scale-out replacement for silhouette
    scores, which need O(n^2) pairwise distances.

    Plan: ONE posexplode to (label, dim, x) long format, one
    groupBy(label, dim) with map-side partial aggregation (bounded keys:
    labels x dim), the global centroid derived from the SAME per-label
    rows by weighted mean (no second corpus pass), and bounded per-label
    regroups. The corpus is touched once; every shuffle key space is
    metadata-sized. Per-dim moments round-trip through sig6 before the
    dim-sum so engine summation order cannot leak into the gated values
    (same discipline as the Lloyd per-dim means)."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    v = F.col(vec_col).cast("array<double>")
    e = (df.where(v.isNotNull())
         .select(F.col(label_col).alias("label"),
                 F.posexplode(v).alias("dim", "x")))
    per = (e.groupBy("label", "dim")
           .agg(sig6(F.avg("x")).cast("double").alias("m"),
                sig6(F.avg(F.col("x") * F.col("x")))
                .cast("double").alias("m2"),
                F.count(F.lit(1)).alias("n")))
    # global per-dim centroid = n-weighted mean of the label means (the
    # label x dim table is bounded — this is metadata math, not a corpus
    # repass). sig6-rounded for the same order-independence reason.
    glob = (per.groupBy("dim")
            .agg(sig6(F.sum(F.col("m") * F.col("n")) / F.sum("n"))
                 .cast("double").alias("g")))
    within_d = sig6(F.col("m2") - F.col("m") * F.col("m")).cast("double")
    between_d = sig6((F.col("m") - F.col("g"))
                     * (F.col("m") - F.col("g"))).cast("double")
    lab = (per.join(glob, "dim")
           .groupBy("label")
           .agg(F.max("n").alias("n"),
                F.sum(within_d).alias("w"),
                F.sum(between_d).alias("b")))
    return (lab.select(F.col("label").cast("bigint").alias("label"),
                       F.col("n").cast("bigint").alias("n"),
                       sig6(F.col("w")).alias("within_ss"),
                       sig6(F.col("b")).alias("between_ss"),
                       sig6(F.col("b") / F.col("w")).alias("fisher_ratio")))


def ivf_pq_topk(df: DataFrame, k: int = 5, n_cells: int = 16,
                n_probe: int = 4, m: int = 16, ksub: int = 32,
                refine: int = 8, iters: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding",
                max_query_id: int = 10,
                max_train: int = 1 << 16) -> DataFrame:
    """IVF-PQ: the composition that IS large-scale ANN practice (FAISS
    IVFx,PQy) — IVF bounds WHICH corpus rows a query touches
    (~n_probe/n_cells of them), PQ bounds the BYTES each touched row
    costs (m codes instead of dim floats). Same output contract as the
    other ANN operators: (query_id, neighbor_id, cos, rank) with exact
    cosine re-rank of the shortlist, self excluded.

    Pipeline: Lloyd IVF centroids (bounded metadata collect) -> narrow
    inlined-literal cell assignment rides the scan -> ONE fused Arrow
    pass encodes each row to PQ codes and ADC-scores it ONLY against the
    queries probing its cell (per-query LUT + probe set are closure
    metadata) -> per-batch top refine*k per query -> global candidate
    window -> broadcast-shortlist exact re-rank (zero corpus exchange,
    same plan property as pq_topk, plan-audited in EXPLAIN.md).

    Recall stacks multiplicatively (IVF's probe miss x PQ's code miss):
    measured 0.90 at the defaults on the near-isotropic fixture vs 0.92
    for pure refined IVF at the same probes — the PQ stage costs ~2
    points of recall for a 32x byte cut (refine=8 re-ranks past most
    code noise). pytest pins the bar (0.8) and determinism."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    # centroid training (Lloyd rounds over raw vectors) and PQ codebook
    # training (stride sample of normalized vectors) are independent
    # bounded chains — overlap them (guide §2.6); both memoize, so
    # repeated builds on the same input still hit the memo
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    crows, books = run_concurrently([
        lambda: kmeans_centroid_rows(df, n_cells=n_cells, iters=iters,
                                     id_col=id_col, vec_col=vec_col),
        lambda: pq_codebooks(df, m=m, ksub=ksub, id_col=id_col,
                             vec_col=vec_col, max_train=max_train),
    ])
    d = with_norm(df, id_col, vec_col)
    ranked = ranked_cells_expr(crows)
    assigned = d.select(
        "id", F.expr("transform(v, x -> x / norm)").alias("v"),
        ranked[0]["cell_id"].alias("cell_id"))
    qrows = (d.where(F.col("id") < max_query_id)
             .select("id",
                     F.expr("transform(v, x -> x / norm)").alias("u"),
                     F.slice(F.transform(ranked, lambda s: s["cell_id"]),
                             1, n_probe).alias("probes"))
             .orderBy("id").collect())
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["u"] for r in qrows], dtype=np.float64)
    probe_sets = [frozenset(int(c) for c in r["probes"]) for r in qrows]
    dsub = books.shape[2]
    lut = np.stack([((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
                      - books[j][None, :, :]) ** 2).sum(axis=2)
                    for j in range(books.shape[0])], axis=1)
    nkeep = refine * k
    m_books = books.shape[0]
    jidx = np.arange(m_books)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            cells = pdf["cell_id"].to_numpy()
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(X), m_books), dtype=np.int64)
            for j in range(m_books):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                      ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            out = []
            for qi in range(len(qids)):
                pr = probe_sets[qi]
                mask = np.array([c in pr for c in cells]) \
                    & (ids != qids[qi])
                if not mask.any():
                    continue
                dist = lut[qi][jidx[None, :], codes[mask]].sum(axis=1)
                cand_ids = ids[mask]
                if len(cand_ids) > nkeep:
                    order = np.lexsort((cand_ids, dist))[:nkeep]
                    cand_ids, dist = cand_ids[order], dist[order]
                out.append(pd.DataFrame(
                    {"query_id": qids[qi], "neighbor_id": cand_ids,
                     "adc_dist": dist}))
            if out:
                yield pd.concat(out)

    cands = assigned.mapInPandas(
        scan, "query_id bigint, neighbor_id bigint, adc_dist double")
    return _adc_rerank(d, cands, nkeep, k, max_query_id)


def label_purity(df: DataFrame, n_cells: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """Label-noise screen: cluster the embeddings into seed-vector cells
    (the same deterministic crank=1 assignment ivf_topk and semdedup
    use) and report per cell (cell_id, n, majority_label, purity,
    label_entropy) — purity = majority share, entropy in nats over the
    cell's label distribution. Cells whose purity runs low against the
    corpus baseline hold either genuinely mixed content or MISLABELED
    points; the members disagreeing with their cell's majority are the
    relabel/review queue. The per-cell companion to label_separation's
    per-label Fisher view.

    Plan: narrow inlined-centroid argmax rides the corpus scan (zero
    exchange), one groupBy(cell, label) with bounded keys (cells x
    labels), bounded per-cell windows/regroups. sig6-rendered FP."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    d = with_norm(df, id_col, vec_col)
    crows = (d.where(F.col("id") < n_cells)
             .select(F.col("id").alias("cell_id"), F.col("v").alias("cv"),
                     F.col("norm").alias("cnorm")).collect())
    best = ranked_cells_expr(crows)[0]
    lab = df.select(F.col(id_col).alias("id"),
                    F.col(label_col).alias("label"))
    assigned = (d.select("id", best["cell_id"].alias("cell_id"))
                .join(lab, "id"))
    cl = (assigned.groupBy("cell_id", "label")
          .agg(F.count(F.lit(1)).alias("n")))
    wcell = Window.partitionBy("cell_id")
    wrank = Window.partitionBy("cell_id").orderBy(
        F.col("n").desc(), F.col("label").asc())
    t = (cl.withColumn("ncell", F.sum("n").over(wcell))
         .withColumn("rk", F.row_number().over(wrank)))
    p = F.col("n").cast("double") / F.col("ncell").cast("double")
    out = (t.groupBy("cell_id")
           .agg(F.max("ncell").alias("n"),
                F.max(F.when(F.col("rk") == 1, F.col("label")))
                .alias("majority_label"),
                F.max(F.when(F.col("rk") == 1, p)).alias("__purity"),
                F.sum(-p * F.log(p)).alias("__ent")))
    return out.select(
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.col("n").cast("bigint").alias("n"),
        F.col("majority_label").cast("bigint").alias("majority_label"),
        sig6(F.col("__purity")).alias("purity"),
        sig6(F.col("__ent")).alias("label_entropy"))

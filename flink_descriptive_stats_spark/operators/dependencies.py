"""Cross-table dependency discovery — inclusion dependencies / foreign
keys.

`key_candidates` and `fd_candidates` (operators/extras.py) answer the
WITHIN-table schema questions (what is unique, what determines what);
this module answers the BETWEEN-table one: which columns reference
which — the inclusion-dependency view a profiler needs before it can
trust a join, and the first genuinely multi-table surface in the
engine. The reference profiles one table per job and has no analog
(reference: src/main/java/org/apache/flink/stats/ProfileJob.java:78-143);
the algorithmic shape follows the published SPIDER/Metanome line of
work (distinct-value containment with cheap-statistics pruning), not
any implementation.

Three tiers (complementing `extras.referential_integrity`, which
scores ROW-level orphan mass for one declared fact->dim pair; this
module works at the schema level — distinct-KEY containment — and in
both declared-graph and undeclared-discovery forms):

- `inclusion_dependencies`: the DECLARED graph — every (child_col ->
  parent_col) edge of the schema's FK diagram audited into one result
  table with exact orphan-key counts. The audit you run on tables that
  are SUPPOSED to be referentially intact.
- `fk_orphan_rows`: the triage ACTION — the child ROWS whose key has
  no parent (the rows an intact inner join would silently drop;
  referential_integrity counts them, this returns them).
- `fk_discover`: UNDECLARED discovery over a dict of tables — exact
  single-column-key detection, then type/range/cardinality pruning,
  then exact containment for the survivors. Emits every inclusion that
  holds, with a `name_affinity` flag (column-name suffix match) as the
  ranking signal; range-contained coincidences (a 0-4 key inside a
  0-24 key) are inherent to data-driven discovery and are reported
  honestly rather than hidden.

Scale design (the 100 TB story):

- containment never shuffles full rows: both sides are projected to
  the single key column and DISTINCT'd FIRST, so the join exchanges
  key-cardinality rows only; the parent side of a real FK is
  dim-table-scale and AQE broadcasts it.
- orphan counting rides the SAME left join that proves containment
  (one pass, no second anti-join).
- `fk_discover`'s pruning stats are ONE aggregate per table (count /
  count_distinct / min / max per eligible column — the key_candidates
  Expand shape), collected as a handful of driver rows; only pairs the
  bounded stats cannot rule out pay a distinct-join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.sig import sig6

#: Spark simpleString dtypes eligible for fk_discover (FK keys are
#: integral in practice; bounding the type family keeps the per-table
#: stats pass narrow and the oracle mirror literal).
DISCOVER_DTYPES: tuple[str, ...] = ("tinyint", "smallint", "int", "bigint")

#: fk_discover approx mode: the HLL++ relative standard deviation
#: requested from approx_count_distinct, and the pruning slack =
#: 3 * rsd (the ~99.7% band) — a 1-sigma slack would mis-prune ~1 in 3
#: true keys purely from sketch noise (r11 fix; observed: a 10-row
#: exact key estimated at 9 and rejected under the old 1-sigma 5%).
APPROX_RSD = 0.05


def _key_cols(col) -> tuple[str, ...]:
    """Normalize a key spec: a column name, or a tuple/list of names
    for a COMPOSITE key (r11 — real schemas carry multi-column keys;
    the lineitem PK is (l_orderkey, l_linenumber))."""
    if isinstance(col, str):
        return (col,)
    cols = tuple(col)
    if not cols or not all(isinstance(c, str) for c in cols):
        raise ValueError(f"key spec must be a column name or a "
                         f"non-empty tuple of names, got {col!r}")
    return cols


def _key_label(col) -> str:
    """Stable string rendering of a (possibly composite) key for the
    child_col/parent_col output columns: ``c1,c2``."""
    return ",".join(_key_cols(col))


def _all_not_null(cols: list[str]):
    out = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        out = out & F.col(c).isNotNull()
    return out


def _containment_row(child: DataFrame, child_col,
                     parent: DataFrame, parent_col) -> DataFrame:
    """One-row frame (n_child_distinct, n_orphans) for a single pair:
    distinct child keys LEFT-joined to distinct parent keys, orphans
    counted on the join miss — containment proved and quantified in the
    same pass. NULL keys are out of scope on both sides (a NULL FK is
    'no reference', not a dangling one); for a COMPOSITE key a NULL in
    ANY component is 'no reference' (SQL simple-match semantics).

    Composite keys keep the exact same shape: both sides project to
    the key components, distinct, and equi-join on all of them — one
    multi-column shuffle key, never a second exchange."""
    ccols, pcols = _key_cols(child_col), _key_cols(parent_col)
    if len(ccols) != len(pcols):
        raise ValueError(
            f"key widths differ: {ccols} vs {pcols}")
    ks = [f"__k{i}" for i in range(len(ccols))]
    ck = (child.select(*[F.col(c).alias(k) for c, k in zip(ccols, ks)])
          .where(_all_not_null(ks)).distinct())
    pk = (parent.select(*[F.col(c).alias(k) for c, k in zip(pcols, ks)])
          .where(_all_not_null(ks)).distinct()
          .withColumn("__hit", F.lit(1)))
    return (ck.join(pk, ks, "left")
            .agg(F.count(F.lit(1)).alias("n_child_distinct"),
                 F.count(F.when(F.col("__hit").isNull(), 1))
                 .alias("n_orphans")))


def _labelled_pair(child: DataFrame, child_col,
                   parent: DataFrame, parent_col,
                   child_name: str, parent_name: str) -> DataFrame:
    """The one-row audit frame for a pair, with the pair identity as
    literal columns and the derived stats computed lazily — union-able
    across pairs into ONE job (independent subtrees schedule
    concurrently instead of one collect per pair)."""
    nd, orph = F.col("n_child_distinct"), F.col("n_orphans")
    # empty child: contained vacuously (the NOT EXISTS convention)
    cont = F.when(nd == 0, F.lit(1.0)).otherwise(
        (nd - orph).cast("double") / nd.cast("double"))
    return _containment_row(child, child_col, parent, parent_col).select(
        F.lit(child_name).alias("child_table"),
        F.lit(_key_label(child_col)).alias("child_col"),
        F.lit(parent_name).alias("parent_table"),
        F.lit(_key_label(parent_col)).alias("parent_col"),
        nd, orph,
        sig6(cont).alias("containment"),
        (orph == 0).alias("ind_holds"))


def inclusion_dependencies(
        specs: list[tuple[str, DataFrame, str, str, DataFrame, str]]
) -> DataFrame:
    """Exact inclusion-dependency audit of a declared FK graph: each
    spec is (child_name, child_df, child_col, parent_name, parent_df,
    parent_col), where child_col/parent_col are a column name or a
    same-length TUPLE of names for a composite key (r11 — rendered
    comma-joined in the output); one output row per spec with the distinct child-key
    count, the orphan-key count (child keys absent from the parent),
    containment = contained/distinct (sig6-rendered; empty child = 1.0,
    the NOT EXISTS convention), and ind_holds (zero orphans). A violated
    edge means an inner join on it silently drops child rows —
    `fk_orphan_rows` returns them, `extras.referential_integrity` scores
    their row mass.

    Each spec costs one distinct-distinct left join over key columns
    only; the per-edge one-row audits are UNIONed into a single lazy
    plan, so the whole graph is one job whose independent edge subtrees
    run concurrently."""
    if not specs:
        raise ValueError(
            "inclusion_dependencies needs at least one spec")
    return reduce(DataFrame.unionByName,
                  (_labelled_pair(cdf, cc, pdf, pc, cn, pn)
                   for cn, cdf, cc, pn, pdf, pc in specs))


def fk_orphan_rows(child: DataFrame, parent: DataFrame,
                   child_col, parent_col) -> DataFrame:
    """The rows behind a violated inclusion dependency: every child row
    (full width) whose non-NULL key has no match in the parent — the
    triage view `inclusion_dependencies` plans for. NULL-keyed rows are
    excluded (no reference to dangle); composite keys (tuple specs,
    r11) treat a NULL in any component as 'no reference'.

    Scale: the parent is projected to its distinct key before the
    anti-join, so the build side is key-cardinality; the child rides
    the join once, full rows, no pre-shuffle."""
    ccols, pcols = _key_cols(child_col), _key_cols(parent_col)
    if len(ccols) != len(pcols):
        raise ValueError(f"key widths differ: {ccols} vs {pcols}")
    pks = [f"__pk{i}" for i in range(len(pcols))]
    pk = (parent.select(*[F.col(c).alias(k)
                          for c, k in zip(pcols, pks)])
          .where(_all_not_null(pks)).distinct())
    cond = reduce(lambda a, b: a & b,
                  (F.col(c) == F.col(k) for c, k in zip(ccols, pks)))
    return (child.where(_all_not_null(list(ccols)))
            .join(pk, on=cond, how="anti"))


def _suffix(name: str) -> str:
    """Column-name affinity key: everything after the first underscore
    (TPC-H style c_nationkey/n_nationkey -> 'nationkey'); a name with
    no underscore keys on itself. Mirrored in SQL as
    regexp_replace(name, '^[^_]*_', '')."""
    return name.split("_", 1)[-1]


def _ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str):
    """F.col for a raw column name, even one containing a backtick or
    a dot."""
    return F.col(_ident(name))


def fk_discover(tables: dict[str, DataFrame],
                min_containment: float = 1.0,
                approx: bool = False,
                max_key_width: int = 1) -> DataFrame:
    """Undeclared foreign-key discovery over a dict of named tables:
    (child_table, child_col, parent_table, parent_col,
    n_child_distinct, n_orphans, containment, name_affinity) for every
    directed column pair that survives pruning and reaches
    ``min_containment`` (default 1.0 — strict inclusion).

    Contract (declarative — the pruning predicates are necessary
    conditions on exact statistics, so the output is exactly "all pairs
    satisfying these predicates", independent of evaluation order):

    - eligible columns: integral dtypes (`DISCOVER_DTYPES`).
    - parent column: an exact single-column key — distinct == non-null
      == row count, over a non-empty table.
    - child column: >= 1 non-null value; not the same (table, column)
      as the parent; distinct <= parent distinct; [min, max] within the
      parent's [min, max].
    - emitted when exact containment >= min_containment; name_affinity
      = suffix-after-first-underscore equality, the ranking signal
      (range-contained coincidences are reported, not hidden).

    Cost: ONE stats aggregate per table (bounded driver rows), then one
    key-distinct left join per surviving pair, all UNIONed into a
    single lazy result plan (the survivor joins run concurrently in one
    job).

    ``approx`` (the 100 TB stats pass): count_distinct inside the
    per-table stats aggregate is exact but shuffles per column;
    approx=True swaps it for approx_count_distinct (HLL++ at
    APPROX_RSD, mergeable fixed-size state, map-side combined) and
    widens the two cardinality prunes by 3 * APPROX_RSD — the ~99.7%
    band, so a TRUE key is virtually never mis-pruned by sketch noise
    (a 1-sigma slack rejected ~1 in 3 real keys; r11 fix). The
    HEURISTIC still changes: a sketch estimate can mis-rank key-ness
    or child-vs-parent cardinality past 3 sigma, so pruning — and
    therefore the pair set TESTED — is approximate (the declarative
    contract above holds exactly only for approx=False; the
    containment numbers of every emitted pair remain exact either
    way). Use it to scope candidates on a corpus where exact
    per-column distincts are a real cost, then confirm with the
    default mode on the survivors.

    ``max_key_width=2`` (r11): additionally discover COMPOSITE 2-column
    inclusions — the (l_orderkey, l_linenumber)-style keys real schemas
    carry, whose single columns are NOT keys. The pair space is bounded
    by NAME AFFINITY *before* any job runs: a column pair of table T
    gets pair statistics only if another (table, pair) carries the
    same suffix pair, because only those pairs can ever be matched
    (documented boundary: composite inclusions between non-affine
    column pairs are out of scope — the unbounded all-pairs-of-pairs
    space is exactly what a 100 TB schema cannot afford). Surviving
    pairs follow the single-column contract shape: parent pair must be
    an exact 2-column key, child pair distinct <= parent distinct and
    each component's [min, max] within the parent component's, then
    one exact distinct-pair containment join (the same multi-column
    shuffle key shape; in approx mode the pair-distinct statistic is
    HLL++ over the xxhash64-combined key, with the same eps slack).
    Composite rows render child_col/parent_col comma-joined;
    name_affinity is True by construction."""
    if not tables:
        raise ValueError("fk_discover needs at least one table")
    if max_key_width not in (1, 2):
        raise ValueError("max_key_width must be 1 or 2, got "
                         f"{max_key_width}")
    stats: dict[tuple[str, str], dict] = {}
    distinct_of = ((lambda c: F.approx_count_distinct(c, APPROX_RSD))
                   if approx else F.count_distinct)
    eligible: dict[str, list[str]] = {
        tname: [f.name for f in df.schema.fields
                if f.dataType.simpleString() in DISCOVER_DTYPES]
        for tname, df in tables.items()}
    # one bounded stats aggregate per table — independent jobs, so they
    # run overlapped from driver threads (guide §2.6) instead of paying
    # len(tables) serial job latencies; the stats fold below consumes
    # results in table order, so the emitted pair set is unchanged
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    stat_tables = []
    for tname, df in tables.items():
        cols = eligible[tname]
        if not cols:
            continue
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [F.count(_col(c)).alias(f"{c}__nn"),
                     distinct_of(_col(c)).alias(f"{c}__d"),
                     F.min(_col(c)).cast("bigint").alias(f"{c}__mn"),
                     F.max(_col(c)).cast("bigint").alias(f"{c}__mx")]
        stat_tables.append((tname, cols, df.agg(*aggs)))
    rows = run_concurrently(
        [lambda a=agg: a.collect()[0] for _, _, agg in stat_tables])
    for (tname, cols, _), row in zip(stat_tables, rows):
        for c in cols:
            stats[(tname, c)] = {
                "n": int(row["__n"]), "nn": int(row[f"{c}__nn"]),
                "d": int(row[f"{c}__d"]), "mn": row[f"{c}__mn"],
                "mx": row[f"{c}__mx"],
            }
    # approx mode: the two cardinality predicates get slack = 3x the
    # sketch's requested rsd — the ~99.7% band, so a true key is
    # virtually never mis-pruned by sketch noise, while the pair set
    # TESTED remains approximate by contract (the min/max and
    # non-null predicates stay exact counts in both modes)
    eps = 3 * APPROX_RSD if approx else 0.0

    def _is_key(s: dict) -> bool:
        if s["n"] == 0 or s["nn"] != s["n"]:
            return False
        return abs(s["d"] - s["nn"]) <= eps * s["nn"]

    parents = [(t, c) for (t, c), s in stats.items() if _is_key(s)]
    spark = next(iter(tables.values())).sparkSession
    pairs: list[tuple] = []
    for (pt, pc) in parents:
        ps = stats[(pt, pc)]
        for (ct, cc), cs in stats.items():
            if (ct, cc) == (pt, pc) or cs["nn"] == 0:
                continue
            if (cs["d"] > ps["d"] * (1.0 + eps) or cs["mn"] < ps["mn"]
                    or cs["mx"] > ps["mx"]):
                continue
            pairs.append((ct, (cc,), pt, (pc,),
                          _suffix(cc) == _suffix(pc)))
    if max_key_width >= 2:
        pairs += _composite_pairs(tables, stats, eligible, eps, approx)
    schema = ("child_table string, child_col string, parent_table string, "
              "parent_col string, n_child_distinct bigint, "
              "n_orphans bigint, containment string, name_affinity boolean")
    if not pairs:
        return spark.createDataFrame([], schema)
    return _containment_union(spark, tables, pairs, min_containment)


def _containment_union(spark, tables: dict[str, DataFrame],
                       pairs: list[tuple],
                       min_containment: float) -> DataFrame:
    """All surviving pairs' containment rows as ONE spark.sql statement.

    The r13 shape built each pair as a chain of ~9 DataFrame
    transformations and reduced them with unionByName — every PySpark
    transformation analyzes its plan EAGERLY, so N pairs cost N x 9
    py4j-round-trip analyses plus an O(N^2) analysis tail for the
    left-deep union (measured: 2.1-2.6s of pure driver time for 16
    pairs at sf0.1, vs ~1s of actual job time). Rendering the whole
    union as one SQL text moves all of that into a single JVM-side
    parse+analysis (~0.1s); the analyzed plan — per pair: two DISTINCT
    projections, one left join keyed by the key columns, one aggregate,
    all branches unioned into one lazy job — is the same one the
    DataFrame chain produced, so results are byte-identical.

    Each pair is (child_table, child_cols, parent_table, parent_cols,
    name_affinity); tables are passed as spark.sql DataFrame template
    args, so no temp-view namespace is touched."""
    esc = (lambda s: s.replace("'", "''"))
    tkey = {tname: f"t{i}" for i, tname in enumerate(tables)}
    args: dict[str, DataFrame] = {}
    branches = []
    for (ct, cpair, pt, ppair, aff) in pairs:
        args[tkey[ct]] = tables[ct]
        args[tkey[pt]] = tables[pt]
        ks = [f"__k{j}" for j in range(len(cpair))]
        csel = ", ".join(f"{_ident(c)} AS {k}" for c, k in zip(cpair, ks))
        cnn = " AND ".join(f"{_ident(c)} IS NOT NULL" for c in cpair)
        psel = ", ".join(f"{_ident(p)} AS {k}" for p, k in zip(ppair, ks))
        pnn = " AND ".join(f"{_ident(p)} IS NOT NULL" for p in ppair)
        branches.append(
            f"SELECT '{esc(ct)}' AS child_table, "
            f"'{esc(','.join(cpair))}' AS child_col, "
            f"'{esc(pt)}' AS parent_table, "
            f"'{esc(','.join(ppair))}' AS parent_col, "
            "count(1) AS n_child_distinct, "
            "count(CASE WHEN __hit IS NULL THEN 1 END) AS n_orphans, "
            f"{'TRUE' if aff else 'FALSE'} AS name_affinity "
            f"FROM (SELECT DISTINCT {csel} FROM {{{tkey[ct]}}} "
            f"WHERE {cnn}) AS __ck "
            f"LEFT JOIN (SELECT DISTINCT {psel}, 1 AS __hit "
            f"FROM {{{tkey[pt]}}} WHERE {pnn}) AS __pk "
            f"USING ({', '.join(ks)})")
    raw = spark.sql("\nUNION ALL\n".join(branches), **args)
    nd, orph = F.col("n_child_distinct"), F.col("n_orphans")
    cont = (nd - orph).cast("double") / nd.cast("double")
    return (raw.where(cont >= F.lit(float(min_containment)))
            .select("child_table", "child_col", "parent_table",
                    "parent_col", "n_child_distinct", "n_orphans",
                    sig6(cont).alias("containment"), "name_affinity"))


def _composite_pairs(tables: dict[str, DataFrame],
                     stats: dict, eligible: dict[str, list[str]],
                     eps: float, approx: bool) -> list[tuple]:
    """The max_key_width=2 arm of fk_discover — see its docstring for
    the contract. Returns surviving composite pair tuples for
    _containment_union (the containment SQL is rendered there together
    with the single-column survivors).

    Cost shape: the affinity bound prunes the pair space driver-side
    from schema names alone (no job); pair statistics are ONE extra
    bounded aggregate per table that still owns candidate pairs; each
    survivor pays one distinct-pair containment join, unioned into the
    same single lazy result job as the single-column survivors."""
    from itertools import combinations
    # 1. affinity-bounded candidate pair space (driver-side, no job):
    #    order each pair's components by suffix so matching below is
    #    positional (component i of the child maps to component i of
    #    the parent, suffixes equal by construction)
    by_suffix: dict[tuple[str, str],
                    list[tuple[str, tuple[str, str]]]] = {}
    for tname, cols in eligible.items():
        for a, b in combinations(cols, 2):
            sa, sb = _suffix(a), _suffix(b)
            if (sb, b) < (sa, a):
                a, b, sa, sb = b, a, sb, sa
            by_suffix.setdefault((sa, sb), []).append((tname, (a, b)))
    needed = {k: v for k, v in by_suffix.items() if len(v) >= 2}
    # 2. pair statistics: one bounded agg per table owning candidates
    by_table: dict[str, list[tuple[str, str]]] = {}
    for entries in needed.values():
        for tname, pair in entries:
            by_table.setdefault(tname, []).append(pair)
    pstats: dict[tuple[str, tuple[str, str]], dict] = {}
    pair_aggs = []
    for tname, pairs in sorted(by_table.items()):
        df = tables[tname]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (a, b) in enumerate(pairs):
            nn = F.count(F.when(_col(a).isNotNull()
                                & _col(b).isNotNull(), 1))
            # any-NULL-component pairs are no key value: mask them
            # BEFORE hashing (xxhash64 would otherwise hash the null
            # row to a real value and inflate the pair count — exact
            # count_distinct(a, b) skips such rows natively)
            d = (F.approx_count_distinct(
                     F.when(_col(a).isNotNull() & _col(b).isNotNull(),
                            F.xxhash64(_col(a), _col(b))),
                     APPROX_RSD)
                 if approx else F.count_distinct(_col(a), _col(b)))
            aggs += [nn.alias(f"p{i}__nn"), d.alias(f"p{i}__d")]
        pair_aggs.append((tname, pairs, df.agg(*aggs)))
    # independent per-table aggregates: overlap them (guide §2.6), fold
    # in table order — pstats content identical to the serial loop
    from flink_descriptive_stats_spark.functions.overlap import \
        run_concurrently
    rows = run_concurrently(
        [lambda a=agg: a.collect()[0] for _, _, agg in pair_aggs])
    for (tname, pairs, _), row in zip(pair_aggs, rows):
        for i, pair in enumerate(pairs):
            pstats[(tname, pair)] = {
                "n": int(row["__n"]), "nn": int(row[f"p{i}__nn"]),
                "d": int(row[f"p{i}__d"])}
    # 3. match: exact-2-column-key parents vs stats-pruned children
    pairs: list[tuple] = []
    for skey in sorted(needed):
        entries = needed[skey]
        for pt, ppair in entries:
            ps = pstats[(pt, ppair)]
            if not (ps["n"] > 0 and ps["nn"] == ps["n"]
                    and abs(ps["d"] - ps["nn"]) <= eps * ps["nn"]):
                continue
            for ct, cpair in entries:
                if (ct, cpair) == (pt, ppair):
                    continue
                cs = pstats[(ct, cpair)]
                if cs["nn"] == 0 or cs["d"] > ps["d"] * (1.0 + eps):
                    continue
                if any(stats[(ct, cc)]["mn"] < stats[(pt, pc)]["mn"]
                       or stats[(ct, cc)]["mx"] > stats[(pt, pc)]["mx"]
                       for cc, pc in zip(cpair, ppair)):
                    continue
                pairs.append((ct, cpair, pt, ppair, True))
    return pairs


def fk_repair(child: DataFrame, parent: DataFrame,
              child_col, parent_col,
              action: str = "drop") -> DataFrame:
    """The remediation behind a violated inclusion dependency —
    `inclusion_dependencies` detects, `fk_orphan_rows` shows,
    this FIXES, restoring the invariant an inner join needs:

    - action='drop'     remove orphan rows (semi-join on the distinct
                        parent key; NULL-keyed rows KEPT — a NULL FK is
                        'no reference', already join-safe).
    - action='nullify'  keep every row but set dangling keys to NULL
                        (left join + conditional overwrite) — the
                        choice when the child's other columns must
                        survive.

    Composite keys (tuple specs, r11): 'no reference' = any component
    NULL (kept under 'drop'); 'nullify' clears EVERY component of a
    dangling key, never a partial one.

    Scale: parent collapses to its distinct key either way; 'drop' is
    the same build-side shape as fk_orphan_rows with the join flipped
    to semi; 'nullify' carries full child rows through one left join."""
    if action not in ("drop", "nullify"):
        raise ValueError(
            f"action must be 'drop' or 'nullify', got {action!r}")
    ccols, pcols = _key_cols(child_col), _key_cols(parent_col)
    if len(ccols) != len(pcols):
        raise ValueError(f"key widths differ: {ccols} vs {pcols}")
    pks = [f"__pk{i}" for i in range(len(pcols))]
    pk = (parent.select(*[F.col(c).alias(k)
                          for c, k in zip(pcols, pks)])
          .where(_all_not_null(pks)).distinct())
    cond = reduce(lambda a, b: a & b,
                  (F.col(c) == F.col(k) for c, k in zip(ccols, pks)))
    if action == "drop":
        keyed = child.where(_all_not_null(list(ccols))).join(
            pk, on=cond, how="semi")
        return keyed.unionByName(
            child.where(~_all_not_null(list(ccols))))
    j = child.join(pk.withColumn("__hit", F.lit(1)),
                   on=cond, how="left")
    # materialize the keep predicate BEFORE overwriting any component:
    # nullifying c1 first would make ~all_not_null true and leave c2
    # of the same dangling key un-cleared (a partial composite key)
    out = j.withColumn("__keep", F.col("__hit").isNotNull()
                       | ~_all_not_null(list(ccols)))
    for c in ccols:
        out = out.withColumn(
            c, F.when(F.col("__keep"), F.col(c)).otherwise(F.lit(None)))
    return out.drop("__hit", "__keep", *pks)

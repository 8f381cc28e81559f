"""Single-pass table profiling — data-quality statistics for pipeline
monitoring (beyond-reference capability; the training-data analog of the
reference's eyeball-the-console verification, SURVEY.md §5).

One aggregate pass computes per-column null counts, min/max, and exact
distinct counts — every stat is a partial-aggregable expression, so the
whole profile is one shuffle regardless of table width. For 100 TB scans
swap count_distinct → approx_count_distinct (HLL++) per column; exact is
kept here because it is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Wide one-row profile of numeric columns: n, nulls/min/max/distinct
    per column, deterministically named `<col>_<stat>`."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.countDistinct(c).alias(f"{c}_distinct"),
        ]
    return df.agg(*aggs)


def heavy_hitters(df: DataFrame, col: str, support: float = 0.01) -> list:
    """Approximate heavy hitters via `DataFrame.stat.freqItems` — Spark's
    single-pass merged-partials frequent-items sketch (Karp/Misra-Gries
    family). Guarantee: the returned list is a SUPERSET of every value with
    frequency > support·N (false positives possible, false negatives not).
    One scan, no shuffle beyond the sketch-merge; the result is bounded by
    ~1/support values, i.e. driver-safe by construction at any corpus
    size. Verify candidates exactly afterwards when exact counts matter —
    the sketch's job is shrinking the candidate set, same contract as the
    bloom/LSH pruning primitives."""
    return list(df.stat.freqItems([col], support).head()[0])


def heavy_hitters_verified(df: DataFrame, col: str,
                           support: float = 0.01) -> DataFrame:
    """Exact heavy hitters with the sketch as a pre-check: returns
    (value, cnt, in_sketch) for every value whose exact frequency exceeds
    support·N. `in_sketch` must be TRUE for each (the sketch's
    no-false-negative guarantee) — a broken sketch shows up as FALSE.
    Cost: the sketch pass + one partial-aggregated count shuffle whose
    output is bounded by the value cardinality."""
    items = heavy_hitters(df, col, support)
    total = df.count()
    return (df.groupBy(col).agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > support * total)
            .select(F.col(col), F.col("cnt"),
                    F.col(col).isin(items).alias("in_sketch")))


def metadata_stats(spark, path: str, cols: list[str]):
    """MIN/MAX/COUNT per column answered from parquet FOOTER metadata — no
    row reads. At 100 TB this turns a full-table profile prelude into a
    footer-only scan (milliseconds per file): Spark's DataSource-V2 parquet
    reader pushes the aggregate into the scan (`PushedAggregation` in the
    plan) when `spark.sql.parquet.aggregatePushdown` is on.

    Both required confs are scoped here and restored: the V2 reader is NOT
    the engine default (V1 keeps the rest of the inventory's plan shapes),
    and the job is executed EAGERLY inside the scope — the stats are an
    ingest/catalog-time artifact, like the IVF index.

    Returns (col_name, min_value, max_value, n_rows) with min/max
    stringified (mixed column types in one result), plus the executed
    plan texts for plan assertions."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in
             ("spark.sql.parquet.aggregatePushdown",
              "spark.sql.sources.useV1SourceList")}
    try:
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(path)
        rows, plans = [], []
        for c in cols:
            agg = df.select(c).agg(
                F.min(c).alias("mn"), F.max(c).alias("mx"),
                F.count(F.lit(1)).alias("n"))
            plans.append(agg._jdf.queryExecution().executedPlan().toString())
            r = agg.head()
            rows.append((c, str(r["mn"]), str(r["mx"]), int(r["n"])))
        out = spark.createDataFrame(
            rows, "col_name string, min_value string, max_value string, n_rows long")
        return out, plans
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def hll_daily_sketches(df: DataFrame, ts_col: str, key_col: str,
                       lg_k: int = 12) -> DataFrame:
    """Per-day HyperLogLog sketches of `key_col` (Apache DataSketches HLL,
    built into Spark as `hll_sketch_agg`) — the MERGEABLE distinct-count
    state a 100 TB pipeline materializes at ingest: one small binary per
    (day,) that any coarser rollup unions, instead of re-scanning raw
    data per question. lg_k=12 → ~1.6 KB per sketch, ~2% relative error."""
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp")).alias("day")
    return df.groupBy(day).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"),
    )


def hll_rollup_estimate(daily: DataFrame, to: str = "month") -> DataFrame:
    """Roll daily sketches up to a coarser grain by UNIONING the sketches
    (`hll_union_agg` — no raw-data rescan, the whole point of mergeable
    sketch state) and estimate the distinct count per rolled-up bucket."""
    bucket = F.date_trunc(to, F.col("day")).alias(to)
    return (
        daily.groupBy(bucket)
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(to, F.hll_sketch_estimate("merged").alias("approx_distinct"))
    )


def cms_buckets(key: Column, depth: int, width: int) -> list[Column]:
    """The count-min probe row for a key: bucket_j = md5num(j || '-' || key)
    mod width for j in [0, depth) — the same engine-portable md5→bigint
    primitive as `sampling.hash_bucket`, salted per hash row."""
    return [
        F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{j}-"), key.cast("string"))), 1, 15),
                16, 10).cast("bigint"),
            F.lit(width)).alias(f"b{j}")
        for j in range(depth)
    ]


def _cms_probes_expr(key_col: str, depth: int, width: int) -> Column:
    """The depth probe structs rendered as ONE expr parse — the
    Column-API form (`cms_buckets`, kept as the public per-column
    primitive) costs ~8 py4j round trips per hash row, which dominated
    cms plan time; the SQL string builds the identical expression
    JVM-side (r5 classifier-weights treatment)."""
    elems = ", ".join(
        f"named_struct('j', {j}, 'bucket', pmod(CAST(conv(substring("
        f"md5(concat('{j}-', CAST(`{key_col}` AS STRING))), 1, 15), "
        f"16, 10) AS BIGINT), {width}))" for j in range(depth))
    return F.expr(f"array({elems})")


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) materialized AS A
    TABLE: (j, bucket, cnt) with ≤ depth × width rows. Point estimate for
    a key = min over j of its bucket's cnt — an overcount-only
    approximation using O(depth × width) space no matter how many
    distinct keys stream through, the frequency-sketch analog of the HLL
    state above.

    Build shape: each input row fans out to `depth` (j, bucket) pairs
    BEFORE a counting aggregate — the fan-out never hits the wire because
    partial aggregation collapses every map task's output to ≤ depth ×
    width rows, so shuffle volume is O(tasks × depth × width), not
    O(rows). Mergeable: sketches over disjoint row sets combine by
    (j, bucket) addition (`cms_merge`) — per-day/per-shard sketches roll
    up without rescanning raw data."""
    probes = _cms_probes_expr(key_col, depth, width)
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.j").alias("j"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (depth, width):
    elementwise (j, bucket) addition via union + re-aggregate."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(cms: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 256) -> DataFrame:
    """Point-query keys against a materialized sketch: explode each key's
    depth probe rows, join the (tiny, ≤ depth×width-row, broadcast)
    sketch, take min(cnt) — the CMS estimate, ≥ the true count always.
    Buckets no row ever hashed into read as 0 (COALESCE after the left
    join), so estimates are defined for never-seen keys too.

    The probe/join columns use reserved internal names (`_cms_j`,
    `_cms_bucket`, `_cms_cnt`) so a keys frame that happens to carry a
    column named j/bucket/cnt can't silently mis-resolve the join and
    corrupt the estimate; a keys column colliding with a reserved name
    raises instead."""
    reserved = {"_cms_j", "_cms_bucket", "_cms_cnt"} & set(keys.columns)
    if reserved:
        raise ValueError(
            f"keys frame uses reserved cms_estimate columns: {sorted(reserved)}")
    probes = _cms_probes_expr(key_col, depth, width)
    exploded = keys.select("*", F.explode(probes).alias("_p")) \
        .select("*", F.col("_p.j").alias("_cms_j"),
                F.col("_p.bucket").alias("_cms_bucket")) \
        .drop("_p")
    sketch = cms.select(F.col("j").alias("_cms_j"),
                        F.col("bucket").alias("_cms_bucket"),
                        F.col("cnt").alias("_cms_cnt"))
    return (
        exploded.join(F.broadcast(sketch), ["_cms_j", "_cms_bucket"], "left")
        .groupBy(*[c for c in keys.columns])
        .agg(F.min(F.coalesce(F.col("_cms_cnt"), F.lit(0))).alias("est_cnt"))
    )


def constraint_report(df: DataFrame, *,
                      unique: list[str] | None = None,
                      not_null: list[str] | None = None,
                      positive: list[str] | None = None,
                      foreign_keys: list[tuple[str, DataFrame, str]] | None = None
                      ) -> DataFrame:
    """Declarative data-quality gate: evaluate constraint families over a
    table and return one row per constraint — (constraint, violations,
    passed) — the expectations layer a pipeline runs before promoting a
    snapshot.

    - unique: duplicate-key rows beyond the first (count − distinct);
    - not_null: null rows per column;
    - positive: rows ≤ 0;
    - foreign_keys: (local_col, parent_df, parent_col) — child keys with
      no parent (left anti join; broadcast when the parent is small,
      Catalyst decides).

    Single-table checks fold into ONE aggregate pass over the table; each
    FK adds one anti-join. Violation COUNTS (not violating rows) keep the
    report tiny at any scale — drill into failures with a filter on the
    named constraint."""
    aggs = []
    names = []
    for c in unique or []:
        aggs.append((F.count(c) - F.count_distinct(F.col(c))).cast("bigint"))
        names.append(f"unique({c})")
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).cast("bigint"))
        names.append(f"not_null({c})")
    for c in positive or []:
        aggs.append(F.sum((F.col(c) <= 0).cast("long")).cast("bigint"))
        names.append(f"positive({c})")
    spark = df.sparkSession
    parts = []
    if aggs:
        row = df.agg(*[a.alias(f"_c{i}") for i, a in enumerate(aggs)])
        parts.append(row.selectExpr(
            "stack({n}, {args}) as (constraint, violations)".format(
                n=len(aggs),
                args=", ".join(f"'{names[i]}', _c{i}"
                               for i in range(len(aggs))))))
    for local, parent, pcol in foreign_keys or []:
        orphans = (df.select(F.col(local)).filter(F.col(local).isNotNull())
                   .join(parent.select(F.col(pcol).alias(local)),
                         local, "left_anti")
                   .agg(F.count("*").cast("bigint").alias("violations"))
                   .select(F.lit(f"fk({local})").alias("constraint"),
                           "violations"))
        parts.append(orphans)
    if not parts:
        raise ValueError("no constraints given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("violations") == 0)


def hll_sketch_sink(state_dir: str, ts_col: str, key_col: str,
                    lg_k: int = 12, n_buckets: int = 8):
    """foreachBatch writer maintaining per-day HLL sketches CONTINUOUSLY —
    streaming distinct-counts without ever storing raw keys: each batch
    folds into per-day batch sketches (tiny), which merge into the stored
    day sketches via `hll_union_agg` — the same union-and-reaggregate
    merge the incremental-aggregate sink uses, because HLL sketches are
    exactly a mergeable aggregation state. Layout/commit/replay-guard are
    the changelog library's crash-atomic bucketed machinery.

    Read back with `read_upsert_state` + `hll_sketch_estimate`, or roll
    days up to any grain with `hll_rollup_estimate` — no raw-data rescan
    at any point."""
    from felixzh_flink_spark.functions.changelog import _merge_state_sink

    return _merge_state_sink(
        state_dir,
        lambda batch: hll_daily_sketches(batch, ts_col, key_col, lg_k),
        ["day"],
        lambda old, delta: delta.unionByName(old).groupBy("day").agg(
            F.hll_union_agg("sketch").alias("sketch")),
        n_buckets)


def cms_sketch_sink(state_dir: str, key_col: str, depth: int = 4,
                    width: int = 256, n_buckets: int = 8):
    """foreachBatch writer maintaining a count-min sketch CONTINUOUSLY —
    streaming frequency estimates without storing raw keys: each batch
    folds into a batch sketch (≤ depth × width rows), which ADDS into the
    stored sketch cell-wise (`cms_merge` — CMS is a mergeable aggregation
    state under addition, the frequency analog of `hll_sketch_sink`'s
    union-merge). Layout/commit/replay-guard reuse the changelog
    library's crash-atomic bucketed machinery; the epoch skip is
    essential here because a replayed ADD would double-count (unlike
    HLL's idempotent register max).

    Read back with `read_upsert_state` + `cms_estimate` — frequency
    questions over the whole stream history with O(depth × width) state.
    """
    from felixzh_flink_spark.functions.changelog import _merge_state_sink

    return _merge_state_sink(
        state_dir, lambda batch: cms_build(batch, key_col, depth, width),
        ["j"], lambda old, delta: cms_merge(delta, old), n_buckets)


def exact_percentiles_frame(df: DataFrame, col: str, ps: list[float],
                            alias: str = "q") -> DataFrame:
    """EXACT percentiles (linear interpolation, the `percentile` /
    `quantile_cont` rank = p·(n−1) formula) as a LAZY one-row
    DataFrame, computed scale-safely: Spark's exact `percentile`
    aggregate buffers every value and merges ALL partition buffers on
    one reducer — a single-node sort of the whole column, visible as
    the slowest stage at sf0.1 already and fatal at 100 TB. Instead:
    range-partition by value, per-partition counts roll into broadcast
    offsets, within-partition row_number + offset = exact global rank
    (the two-phase recipe shared with `quantile_bins` /
    `acctbal_quartiles`), and the needed rank positions are computed
    IN-PLAN against the broadcast count instead of collecting anything
    to the driver. Returns a 1-row frame with `alias` = array<double>
    of the percentiles in `ps` order (mirrors DuckDB's
    `quantile_cont(x, [...])` shape, so oracles can replay it verbatim
    with `FROM t, e`).

    When the percentiles feed ANOTHER plan (fences, bin edges, clamps)
    the whole pipeline stays one job — no count/collect round-trips
    billed before execution, and nothing leaves the cluster. Results
    are bit-identical to Spark's `percentile` and to `quantile_cont`.
    Empty input yields NULL entries."""
    # The ENTIRE two-phase rank pipeline is rendered as ONE spark.sql
    # call ({df} parameter substitution, Spark 3.5+) instead of ~14
    # incremental DataFrame ops: every DataFrame call re-analyzes the
    # growing tree driver-side, and this helper was the bench's worst
    # plan-time offender two rounds running (r4 Column-by-Column ~12
    # py4j round trips per percentile; r5's expr-string form still paid
    # the per-op analysis). The SQL text is the same algorithm —
    # REPARTITION_BY_RANGE hint = repartitionByRange, spark_partition_id
    # computed post-exchange, broadcast offsets/count joins — and
    # `repr(p)` round-trips the exact double (Python repr ↔ Java
    # parseDouble), so results stay bit-identical to the former form
    # and to DuckDB quantile_cont.
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)

    def _lo(p):  # row context: _n is the broadcast count column
        return f"FLOOR({p!r}D * CAST(_n - 1 AS DOUBLE))"

    def _qexpr(p):
        kf = f"({p!r}D * CAST(first(_n) - 1 AS DOUBLE))"
        frac = f"({kf} - CAST(FLOOR({kf}) AS DOUBLE))"
        lov = f"max(CASE WHEN _rank = {_lo(p)} THEN _v END)"
        hiv = (f"max(CASE WHEN _rank = LEAST({_lo(p)} + 1, _n - 1) "
               f"THEN _v END)")
        # (1−f)·lo + f·hi, NOT lo + f·(hi−lo): the two differ in the
        # last ulp for some inputs and the former is what DuckDB's
        # quantile_cont computes; hypothesis-verified on random multisets
        return f"((1.0D - {frac}) * {lov} + {frac} * {hiv})"

    keep = " OR ".join(
        f"_rank = {_lo(p)} OR _rank = LEAST({_lo(p)} + 1, _n - 1)"
        for p in ps)
    agg = "array(" + ", ".join(_qexpr(p) for p in ps) + ")"
    # `pidded` crosses a DataFrame-parameter boundary on purpose: a
    # pure-SQL CTE that contains spark_partition_id() and is referenced
    # twice gets wrapped in an extra RoundRobin REBALANCE exchange by
    # Spark's nondeterministic-CTE handling — a full re-shuffle of the
    # column (measured +0.7 s at sf0.1). As a substituted DataFrame it
    # resolves like the former Column form: duplicated subtree, no
    # rebalance.
    pidded = df.sparkSession.sql(f"""
WITH vals AS (
  SELECT _v FROM (SELECT CAST(`{col}` AS DOUBLE) AS _v FROM {{df}})
  WHERE _v IS NOT NULL),
ranged AS (SELECT /*+ REPARTITION_BY_RANGE({nparts}, _v) */ _v FROM vals)
SELECT _v, spark_partition_id() AS _pid FROM ranged
""", df=df)
    # `_n` (the total) rides the same per-partition count relation that
    # feeds the offsets window (r12): the old form paid a SEPARATE full
    # scan + COUNT of the input (`nrow`) plus a crossJoin broadcast just
    # to attach a number that is exactly SUM(_c) over the ≤ nparts count
    # rows already in hand. One lineitem-grade scan and one broadcast
    # exchange removed; `_n` is the identical integer, so every rank
    # target and the interpolation are bit-identical.
    return df.sparkSession.sql(f"""
WITH offsets AS (
  SELECT _pid, COALESCE(SUM(_c) OVER (ORDER BY _pid
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         CAST(0 AS BIGINT)) AS _off,
         SUM(_c) OVER () AS _n
  FROM (SELECT _pid, COUNT(*) AS _c FROM {{pidded}} GROUP BY _pid)),
fenced AS (
  SELECT /*+ BROADCAST(o) */ p._v AS _v,
         ROW_NUMBER() OVER (PARTITION BY p._pid ORDER BY p._v)
           + o._off - 1 AS _rank,
         o._n AS _n
  FROM {{pidded}} p JOIN offsets o ON p._pid = o._pid)
SELECT {agg} AS `{alias}` FROM fenced WHERE {keep}
""", pidded=pidded)


def percentiles_frame(df: DataFrame, col: str, ps: list[float],
                      alias: str = "q", approx: bool = False,
                      accuracy: int = 10000) -> DataFrame:
    """Dispatching front door for the 1-row percentile frame: exact
    (`exact_percentiles_frame` — two-phase range-partitioned order
    statistics, bit-matches DuckDB quantile_cont) or approx
    (`approx_percentile`, a mergeable t-digest-style sketch: one
    map-side-combined aggregate, no range repartition, no per-partition
    sort). The approx path is the right default once the column stops
    fitting a single sort comfortably — at 100 TB the exact path's
    rank machinery works but costs a full shuffle+sort of the column,
    while the sketch is one pass; callers keep exact=default here
    because the correctness oracles contract bit-exact quantile_cont
    parity, and flip approx=True from their own scale knob (see the
    psi/winsorize registry queries, which switch on sf ≥ 1)."""
    if approx:
        arr = ", ".join(repr(float(p)) + "D" for p in ps)
        return df.agg(
            F.expr(f"approx_percentile({col}, array({arr}), {accuracy})")
            .cast("array<double>").alias(alias))
    return exact_percentiles_frame(df, col, ps, alias)


def psi_drift(ref: DataFrame, cur: DataFrame, col: str,
              qs: "list[float] | None" = None, eps: float = 1e-6,
              approx: bool = False) -> DataFrame:
    """Derive-edges-then-PSI in one lazy plan: bin edges come from the
    REFERENCE side's own percentiles (`percentiles_frame` — exact by
    default for oracle parity, approx=True for the sketch path at
    scale), broadcast into `psi_report`'s bin ladders. The whole drift
    monitor stays a single job either way."""
    qs = qs or [0.25, 0.5, 0.75]
    edges = percentiles_frame(ref, col, qs, approx=approx)
    return psi_report(ref, cur, col, edges, eps=eps, n_edges=len(qs))


def winsorize(df: DataFrame, col: str, p_low: float = 0.01,
              p_high: float = 0.99, approx: bool = False,
              fences: DataFrame | None = None) -> DataFrame:
    """Winsorize a numeric column: clamp values outside the [p_low,
    p_high] percentile band to the band edges — the standard robust
    pre-processing step before scaling/featurizing (outliers move to the
    fence instead of dominating). Adds `<col>_w` (clamped value) and
    `<col>_clamped` (-1 low / 0 in-band / 1 high).

    Fences come from `exact_percentiles_frame` (two-phase
    range-partitioned order statistics — never a single-node value
    buffer; see there) broadcast-joined onto the scan, so the whole
    winsorize is ONE lazy plan: no fence collect to the driver before
    execution. approx=True swaps in `approx_percentile` (t-digest-style
    mergeable sketch) — same clamp, sketch-grade fences, one aggregate
    instead of the rank machinery."""
    if fences is None:
        # callers may pass a pre-built LAZY fences frame (1 row, array
        # column `_fq`) — an ingest-artifact cache slot: the exact
        # two-phase rank plan costs ~0.2 s of Catalyst CONSTRUCTION per
        # call (nothing is collected either way; r8 plan-time fold,
        # same pattern as queries._psi_edges)
        if approx:
            fences = df.agg(F.expr(
                f"approx_percentile({col}, array({p_low!r}, {p_high!r}))")
                .cast("array<double>").alias("_fq"))
        else:
            fences = exact_percentiles_frame(df, col, [p_low, p_high],
                                             alias="_fq")
    lo, hi = F.col("_fq")[0], F.col("_fq")[1]
    clamped = F.least(F.greatest(F.col(col), lo), hi)
    flag = (F.when(F.col(col) < lo, F.lit(-1))
            .when(F.col(col) > hi, F.lit(1)).otherwise(F.lit(0)))
    return (df.crossJoin(F.broadcast(fences))
            .withColumn(f"{col}_w", clamped)
            .withColumn(f"{col}_clamped", flag)
            .drop("_fq"))


def psi_report(ref: DataFrame, cur: DataFrame, col: str,
               edges: "list[float] | DataFrame", eps: float = 1e-6,
               n_edges: int | None = None,
               tagged: DataFrame | None = None) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of `col` over fixed bin `edges` — THE drift metric a
    production scoring pipeline monitors (rule of thumb: < 0.1 stable,
    0.1-0.25 drifting, > 0.25 shifted). Returns one row per bin
    (bin, p_ref, p_cur, term) — term = (p_cur − p_ref)·ln(p_cur/p_ref)
    with `eps` additive smoothing so empty bins stay finite; SUM(term)
    is the PSI. Emitting per-bin terms (not just the scalar) is what
    makes the drift actionable — WHICH part of the distribution moved.

    Bin assignment is a scan-local CASE ladder over the edges; each side
    is one partial-aggregated count shuffle of ≤ len(edges)+1 groups.
    `edges` is either literal floats (ingest-time artifact) or a LAZY
    1-row frame with an array column `q` (`exact_percentiles_frame`
    output, broadcast onto each scan) — the lazy form keeps
    derive-edges-then-bin a single job with no driver round-trip;
    `n_edges` gives the CASE ladder's static length in that case.

    `tagged` (r12) supplies the ref∪cur rows as ONE frame carrying an
    integer `_side` column (0 = ref, 1 = cur) in place of `ref`/`cur`
    (pass None for both). When the two populations are partitions of
    the SAME table — the monitoring norm: this hour vs last hour, odd
    vs even key — the union-of-two-filtered-scans form reads the
    column twice; the tagged form reads it once and derives the side
    scan-locally. Per-(side, bin) counts are the identical multisets,
    so every probability and term is bit-identical."""
    lazy = isinstance(edges, DataFrame)
    n_e = n_edges if lazy else len(edges)
    if lazy and n_edges is None:
        raise ValueError("n_edges is required when edges is a DataFrame")

    # The whole report is ONE spark.sql call ({ref}/{cur}/{edges}
    # parameter substitution) — r4 cut this from two parallel subtrees
    # to a side-tagged union of expr strings; r6 removes the remaining
    # ~10 per-op driver analyses the same way as
    # `exact_percentiles_frame`. Arithmetic is unchanged: nested-CASE
    # bin ladder (innermost = bin 0), per-side p = n/tot + eps, absent
    # bins = eps exactly.
    bin_sql = "0"
    for i in range(n_e):
        e = f"q[{i}]" if lazy else repr(float(edges[i])) + "D"
        bin_sql = f"(CASE WHEN `{col}` > {e} THEN {i + 1} ELSE {bin_sql} END)"
    eps_sql = repr(float(eps)) + "D"
    if lazy:
        srce = (f"srce AS (SELECT /*+ BROADCAST(e) */ s._side AS _side, "
                f"s.`{col}` AS `{col}`, e.q AS q "
                f"FROM src s CROSS JOIN {{edges}} e),")
        binned_src = "srce"
    else:
        srce = ""
        binned_src = "src"
    if tagged is not None:
        src_sql = f"SELECT _side, `{col}` FROM {{src}}"
    else:
        src_sql = (f"SELECT 0 AS _side, `{col}` FROM {{ref}}\n"
                   f"  UNION ALL\n"
                   f"  SELECT 1 AS _side, `{col}` FROM {{cur}}")
    sql = f"""
WITH src AS (
  {src_sql}),
{srce}
counts AS (
  SELECT _side, bin, COUNT(*) AS _n
  FROM (SELECT _side, {bin_sql} AS bin FROM {binned_src})
  GROUP BY _side, bin),
probs AS (
  SELECT _side, bin,
         CAST(_n AS DOUBLE) / CAST(SUM(_n) OVER (PARTITION BY _side)
                                   AS DOUBLE) + {eps_sql} AS _p
  FROM counts),
bins AS (SELECT CAST(b AS INT) AS bin
         FROM (SELECT explode(sequence(0, {n_e})) AS b)),
pivoted AS (
  SELECT bin, MAX(CASE WHEN _side = 0 THEN _p END) AS p_ref,
              MAX(CASE WHEN _side = 1 THEN _p END) AS p_cur
  FROM probs GROUP BY bin)
SELECT b.bin,
       COALESCE(p.p_ref, {eps_sql}) AS p_ref,
       COALESCE(p.p_cur, {eps_sql}) AS p_cur,
       (COALESCE(p.p_cur, {eps_sql}) - COALESCE(p.p_ref, {eps_sql}))
         * ln(COALESCE(p.p_cur, {eps_sql})
              / COALESCE(p.p_ref, {eps_sql})) AS term
FROM bins b LEFT JOIN pivoted p ON b.bin = p.bin
"""
    if tagged is not None:
        if lazy:
            return tagged.sparkSession.sql(sql, src=tagged, edges=edges)
        return tagged.sparkSession.sql(sql, src=tagged)
    if lazy:
        return ref.sparkSession.sql(sql, ref=ref, cur=cur, edges=edges)
    return ref.sparkSession.sql(sql, ref=ref, cur=cur)


def robust_zscore(df: DataFrame, col: str, group_col: str,
                  k: float = 3.0, round_digits: int = 9) -> DataFrame:
    """Per-group robust z-scores: (v − median) / IQR with outlier flag
    |z| > k — the median/IQR form survives the outliers it hunts (plain
    mean/stddev z-scores get dragged by the very tail they should flag).
    Adds `z` (rounded; NULL when IQR = 0) and `is_outlier`.

    One percentile aggregate per group (exact `percentile` — group-
    bounded buffering; swap `approx_percentile` in at 100 TB group
    sizes) broadcast back onto the scan; the z arithmetic is identical
    in any engine, the rounding absorbs division ulp."""
    q = df.groupBy(group_col).agg(
        F.expr(f"percentile({col}, array(0.25, 0.5, 0.75))").alias("_q"))
    stats = q.select(group_col, F.col("_q")[1].alias("_med"),
                     (F.col("_q")[2] - F.col("_q")[0]).alias("_iqr"))
    z = F.when(F.col("_iqr") != 0.0,
               F.round((F.col(col) - F.col("_med")) / F.col("_iqr"),
                       round_digits))
    return (df.join(F.broadcast(stats), group_col)
            .withColumn("z", z)
            .withColumn("is_outlier",
                        F.coalesce(F.abs(F.col("z")) > k, F.lit(False)))
            .drop("_med", "_iqr"))

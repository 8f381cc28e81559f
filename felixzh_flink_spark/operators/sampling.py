"""Deterministic sampling / dataset splitting — training-data pipeline
staples (beyond-reference capability).

`df.sample()` is seed-dependent per partitioning and not reproducible across
engines; these operators hash a stable key instead, so the same row lands in
the same split on any engine, any partitioning, any day — the property a
train/held-out split must have at 100 TB (and what makes the split
oracle-checkable against DuckDB via md5).

The hash is md5(key) taken as 8 hex digits → int — uniform enough for
splitting, available in every engine; xxhash64 is faster but Spark-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from md5 of the key's string form.

    NULL keys hash through a sentinel string instead of propagating NULL:
    md5(NULL) is NULL, and a NULL bucket fails BOTH sides of any
    threshold comparison — null-keyed rows would silently vanish from
    every split/sample (neither train nor test), breaking the documented
    disjoint-exhaustive contract. Mirror the sentinel in oracles when the
    key column is nullable."""
    s = F.coalesce(key.cast("string"), F.lit("\x00null"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10) \
        .cast("bigint") % buckets


def deterministic_sample(df: DataFrame, key: str, pct: int,
                         buckets: int = 100) -> DataFrame:
    """Keep rows whose hash bucket < pct — a reproducible pct% sample."""
    return df.filter(hash_bucket(F.col(key), buckets) < pct)


def train_test_split(df: DataFrame, key: str, test_pct: int = 10,
                     buckets: int = 100) -> tuple[DataFrame, DataFrame]:
    """(train, test) split on the stable hash — disjoint, exhaustive, and
    identical across runs/engines. Split at the KEY level: all rows of one
    key land on the same side (no leakage between splits)."""
    b = hash_bucket(F.col(key), buckets)
    return df.filter(b >= test_pct), df.filter(b < test_pct)


def leakage_safe_split(df: DataFrame, fingerprint_col: str,
                       id_col: str = "doc_id", test_pct: int = 10,
                       buckets: int = 100,
                       alias: str = "split") -> DataFrame:
    """DEDUP-AWARE train/test split: the split key is the duplicate
    GROUP, not the document — every member of a fingerprint group lands
    on the same side, so no held-out document has a training-set
    duplicate. This is the eval-LEAKAGE guard real pipelines need on
    top of a per-doc split: `train_test_split(doc_id)` is leakage-free
    only for DISTINCT keys, but a corpus with mirror/boilerplate
    duplicates puts copy A in train and copy B in test, silently
    inflating held-out metrics (the published decontamination concern,
    applied to the split itself).

    Group key = MIN(id) over the fingerprint partition (one keyed
    window shuffle — the same exchange a dedup pass already pays);
    assignment = the stable md5 `hash_bucket` of the group key, so the
    split is a pure function of content + ids: engine-, run-, and
    partitioning-stable, and oracle-checkable. Returns df +
    (group_key, split) — disjoint and exhaustive by construction.
    Callers with NEAR-dup groups pass the connected-component label as
    `fingerprint_col` instead (same contract)."""
    w = Window.partitionBy(fingerprint_col)
    g = F.min(F.col(id_col)).over(w)
    b = hash_bucket(g, buckets)
    return (df.withColumn("group_key", g)
            .withColumn(alias, F.when(b < test_pct, F.lit("test"))
                               .otherwise(F.lit("train"))))


def stratified_sample(df: DataFrame, key: str, strata_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      buckets: int = 10_000) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing primitive of a
    training-data pipeline (keep 100% of wiki, 10% of crawl, ...).

    Row kept iff hash_bucket(key) < fraction[stratum] × buckets. Unlike
    `df.sampleBy`, the decision is a pure function of (key, stratum), so
    mixes are reproducible across engines/runs and a key keeps the same
    fate when fractions of OTHER strata change. Single scan, no shuffle —
    the filter is a CASE over the stratum column."""
    frac = F.lit(default_fraction)
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(frac)
    # round, don't truncate: float representation error puts many exact
    # products just below the integer (0.043 × 10000 = 429.999…994), so a
    # truncating cast systematically undershoots the requested fraction
    # by one bucket — and can disagree with engines whose product lands
    # on the other side
    return df.filter(
        hash_bucket(F.col(key), buckets)
        < F.round(frac * buckets).cast("bigint"))


def cap_per_group(df: DataFrame, key: str, group_col: str, cap: int,
                  seed: str = "cap") -> DataFrame:
    """Keep at most `cap` rows per group, chosen by deterministic md5 rank
    — the "no domain may contribute more than N documents" guard of a
    mixture pipeline, as a reproducible pseudo-random reservoir instead of
    arrival-order `LIMIT` (which is partitioning-dependent) or `sample()`
    (seed-and-partitioning dependent). One shuffle on the group; groups
    under the cap pass through whole. Changing `seed` redraws the
    reservoir; any engine replays the same choice.

    `key` must be unique per row (it is the row's identity): rows sharing
    a key share the full (hash, key) sort key, so WHICH of them survives
    a cap boundary would be partitioning-dependent."""
    # ONE spark.sql call (r8 plan-time fold; identical window plan).
    # char(0) mirrors hash_bucket's NULL-key sentinel.
    cols = ", ".join(f"`{c}`" for c in df.columns)
    seed_sql = seed.replace("\\", "\\\\").replace("'", "\\'")
    return df.sparkSession.sql(f"""
SELECT {cols} FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY `{group_col}`
      ORDER BY md5(concat('{seed_sql}', '-',
                   coalesce(cast(`{key}` AS string),
                            concat(char(0), 'null')))), `{key}`) AS _rn
  FROM {{df}})
WHERE _rn <= {int(cap)}
""", df=df)


def epoch_shuffle(df: DataFrame, key: str, seed: str,
                  n_shards: int = 64,
                  shard_col: str = "shard",
                  pos_col: str = "pos") -> DataFrame:
    """Deterministic training-order shuffle: assign every row a (shard,
    position) that is a pure function of (key, seed) — the per-epoch
    reshuffle of a training-data pipeline, reproducible on any engine and
    resumable mid-epoch (position IS the cursor).

    Shard = stable md5 bucket of the key; position = rank of
    md5(seed ‖ key) WITHIN the shard (ties broken by key). Changing the
    seed permutes both shard-internal order and nothing else — epochs
    differ, reruns don't. `key` must be unique per row: duplicate keys
    tie on the whole sort key, making their relative positions
    partitioning-dependent and breaking the resume-cursor guarantee. The sort is per-shard (`row_number` partitioned
    by shard), NOT a global total order: at 100 TB a global sort is one
    range-partitioned total-order shuffle per epoch, while the shard-local
    form shuffles once on the shard id and sorts shards independently —
    readers consume shards in any order, which is exactly how a
    data-loader fans out.

    `n_shards` is BOTH the layout unit and the sort-parallelism unit: a
    shard is one window partition, i.e. one task's in-memory sort. Scale
    it with the data (shards ≈ corpus / ~1 GB) — the test default of 64
    on a 100 TB corpus would mean 64 single-task 1.5 TB sorts."""
    k = F.coalesce(F.col(key).cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat(F.lit(seed), F.lit("-"), k))
    w = Window.partitionBy(shard_col).orderBy(h, F.col(key))
    return (
        df.withColumn(shard_col, hash_bucket(F.col(key), n_shards))
        .withColumn(pos_col, F.row_number().over(w))
    )


def temperature_resample(df: DataFrame, key: str, domain_col: str,
                         target_total: int,
                         buckets: int = 10_000) -> DataFrame:
    """Temperature-weighted domain resampling — the multilingual /
    multi-domain mixture recipe (sampling probability ∝ N_d^α with α < 1,
    so small domains are up-weighted relative to their natural share; the
    mixture used by multilingual-pretraining pipelines).

    α is fixed at 0.5 and DISCRETIZED through the integer square root:
    weight s_d = isqrt(N_d), per-row acceptance threshold
    ``t_d = (target_total · buckets · s_d) div (Σs · N_d)`` and a row is
    kept iff ``hash_bucket(key) < t_d``. Every step after the exact domain
    counts is INTEGER arithmetic, so the kept set is a pure deterministic
    function of the data — reproducible across engines, partitionings and
    runs, and oracle-checkable (float `pow` is not correctly rounded and
    may differ across libms; `sqrt` is IEEE-correctly-rounded everywhere,
    and floor(sqrt(double)) == isqrt exactly for counts < 2^50).

    Expected kept rows per domain ≈ target_total · s_d / Σs, capped at the
    full domain (t_d is clamped to `buckets` — a small domain asked for
    more rows than it has keeps everything; temperature sampling
    without-replacement saturates exactly like this).

    Scale shape: one scan for the counts (partial-aggregated, #domains
    rows), the threshold table is broadcast back, and the keep decision is
    a scan-local filter — no shuffle of the corpus itself. `target_total ·
    buckets · s_d` stays in int64 for any corpus below ~2^63/buckets
    tokens — beyond that, lower `buckets`."""
    # ONE spark.sql call (r8 plan-time fold — the Column form cost
    # ~0.18 s of per-op analysis under two headline queries). Identical
    # plan and math: partial-aggregated domain counts, integer isqrt
    # weights, scalar-subquery Σs, broadcast threshold table, null-safe
    # domain join (NULL domains form their own stratum — a plain
    # equi-join would silently drop them), scan-local md5-bucket keep
    # decision. The bigint casts on target_total × buckets stop the
    # folded int32 product overflowing at ≥ 2^31; the char(0) sentinel
    # is hash_bucket's NULL-key funnel.
    cols = ", ".join(f"d.`{c}`" for c in df.columns)
    return df.sparkSession.sql(f"""
WITH counts AS (
  SELECT `{domain_col}` AS _dom, COUNT(*) AS _n
  FROM {{df}} GROUP BY `{domain_col}`),
w AS (SELECT _dom, _n, CAST(FLOOR(SQRT(_n)) AS BIGINT) AS _s FROM counts),
t AS (
  SELECT _dom,
         LEAST((CAST({target_total} AS BIGINT)
                * CAST({buckets} AS BIGINT) * _s)
               div ((SELECT SUM(_s) FROM w) * _n),
               CAST({buckets} AS BIGINT)) AS _thresh
  FROM w)
SELECT /*+ BROADCAST(t) */ {cols}
FROM {{df}} d JOIN t ON d.`{domain_col}` <=> t._dom
WHERE CAST(conv(substring(md5(coalesce(cast(d.`{key}` AS string),
                                       concat(char(0), 'null'))), 1, 8),
               16, 10) AS BIGINT) % {buckets} < t._thresh
""", df=df)


def content_split(df: DataFrame, text_col: str = "text",
                  test_pct: int = 10, buckets: int = 100,
                  split_names: tuple[str, str] = ("train", "test")) -> DataFrame:
    """Leakage-free train/test split: the split key is the CONTENT hash
    (md5 of the normalized text), not the row id — so byte-identical
    duplicates can never straddle the boundary. Row-keyed splits leak:
    with ~10% exact dups (typical crawl), a doc_id split puts thousands
    of test documents verbatim in train, silently inflating eval.

    Adds `split`; single scan, zero shuffles (the hash is a projection).
    Near-dup-safe splitting goes one step further — key by the dup
    CLUSTER id from `graph.connected_components` + `keep_best_per_cluster`,
    which this composes with (pass the cluster id through `hash_bucket`
    yourself); content hashing alone already closes the exact-dup hole
    at zero cost.
    """
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    b = hash_bucket(norm, buckets)
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit(split_names[1])).otherwise(F.lit(split_names[0])))


def quantile_bins(df: DataFrame, order_col: str, n_bins: int = 10,
                  id_col: str = "doc_id", alias: str = "bin") -> DataFrame:
    """Curriculum binning: assign every row to one of `n_bins` quantile
    buckets of `order_col` (bin 1 = lowest) — the stage that turns a
    quality/difficulty score into a training curriculum or into
    per-quality-tier sampling rates.

    ntile needs a TOTAL order to be deterministic (ties split by engine
    whim otherwise), so the sort key is (order_col, id_col). Exact
    assignment is computed SCALE-SAFE via `aggregations.global_ntile`
    (range-partitioned rank + broadcast offsets — no single-task global
    sort). When even the range shuffle is too much, `quantile_bins_approx`
    bins by sketch EDGES in a pure scan.
    """
    from felixzh_flink_spark.operators.aggregations import global_ntile
    return global_ntile(df, (order_col, id_col), n_bins, alias)


def quantile_bins_approx(df: DataFrame, order_col: str, n_bins: int = 10,
                         alias: str = "bin", rel_err: float = 0.001) -> DataFrame:
    """The scale path for `quantile_bins`: bin by APPROXIMATE quantile
    edges (Greenwald-Khanna sketch, one aggregate pass + tiny driver
    collect of n_bins−1 edges) instead of a global sort. Rows within ε of
    an edge may land one bin off; everything else matches the exact
    version. Edges are broadcast into a scan-local CASE — no shuffle of
    the data itself, so the plan stays a scan + project at any scale."""
    probs = [i / n_bins for i in range(1, n_bins)]
    edges = df.stat.approxQuantile(order_col, probs, rel_err)
    c = F.col(order_col)
    # wrap ascending so the OUTERMOST when tests the highest edge — the
    # first true branch wins, so the outermost test must be the most
    # specific (top bin), falling through toward bin 1
    bin_expr = F.lit(1)
    for i, e in enumerate(edges):
        bin_expr = F.when(c > F.lit(e), F.lit(i + 2)).otherwise(bin_expr)
    return df.withColumn(alias, bin_expr.cast("int"))


def interleave_sources(df: DataFrame, key: str, source_col: str,
                       weights: dict[str, float],
                       seed: str = "i1") -> DataFrame:
    """Deterministic stride-scheduled interleaving of sources into one
    training order: each source's rows get a within-source shuffle rank
    (md5(seed, key) order — same primitive as `epoch_shuffle`), and row r
    of a weight-w source lands at position (r − 0.5)/w, so reading in
    `pos` order consumes sources at their weight ratios from the start
    (stride scheduling — the deterministic analog of sampling-with-rates
    mixture ordering; a weight-0.5 source appears half as often per unit
    of output as a weight-1.0 one). Returns
    (key, source, rank_in_source, pos); consumers materialize the order
    with `repartitionByRange(pos)` + per-partition sort, never a global
    single-task sort.

    Scale shape: within-source ranks come from the two-phase
    range-partitioned prefix sum over the (source, md5) composite order
    (`transforms.assign_global_ids`) minus each source's broadcast start
    offset — NOT a `Window.partitionBy(source)` row_number, which would
    funnel each source's entire corpus through one task. The per-source
    start offsets are a source-cardinality-sized aggregate."""
    from felixzh_flink_spark.operators.transforms import assign_global_ids

    ranked = assign_global_ids(
        df.selectExpr(
            f"`{key}`", f"`{source_col}`",
            f"md5(concat('{seed}-', cast(`{key}` as string))) AS _h"),
        [source_col, "_h", key], alias="_gid")
    # Everything after the prefix-sum ranks is ONE spark.sql call
    # (round 8 plan-time fold: the Column-API form — 40 F.lit calls for
    # the weight map alone, a Window builder, a join chain — cost
    # ~0.22 s of py4j round-trips per call; the SQL text is the same
    # plan: source-count offsets window over a source-cardinality
    # aggregate, broadcast join, literal weight map). A source absent
    # from `weights` must fail LOUDLY at execution, not produce NULL
    # pos rows that silently vanish from pos-ordered consumers —
    # raise_error fires on the first unweighted row.
    entries = ", ".join(f"'{s}', {float(w)!r}D"
                        for s, w in sorted(weights.items()))
    return df.sparkSession.sql(f"""
WITH offsets AS (
  SELECT `{source_col}`,
         COALESCE(SUM(_n) OVER (ORDER BY `{source_col}`
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           CAST(0 AS BIGINT)) AS _start
  FROM (SELECT `{source_col}`, COUNT(*) AS _n FROM {{df}}
        GROUP BY `{source_col}`))
SELECT /*+ BROADCAST(o) */ r.`{key}`, r.`{source_col}`,
       r._gid - o._start AS rank_in_source,
       CASE WHEN try_element_at(map({entries}), r.`{source_col}`) IS NULL
            THEN raise_error(concat(
                 'interleave_sources: source has no weight: ',
                 cast(r.`{source_col}` AS string)))
            ELSE (r._gid - o._start - 0.5D)
                 / try_element_at(map({entries}), r.`{source_col}`) END AS pos
FROM {{ranked}} r JOIN offsets o ON r.`{source_col}` = o.`{source_col}`
""", df=df, ranked=ranked)

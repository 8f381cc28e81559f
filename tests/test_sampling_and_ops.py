"""Tests: deterministic sampling/splitting, salted skew join, compaction,
table profiling."""

import glob

from pyspark.sql import functions as F

from felixzh_flink_spark.operators.aggregations import salted_skew_join
from felixzh_flink_spark.operators.layout import compact_parquet
from felixzh_flink_spark.operators.profiling import profile_numeric
from felixzh_flink_spark.operators.sampling import (
    deterministic_sample,
    train_test_split,
)


def test_split_is_disjoint_exhaustive_and_stable(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    train, test = train_test_split(o, "o_custkey", test_pct=10)
    n, nt, ns = o.count(), train.count(), test.count()
    assert nt + ns == n and 0 < ns < n
    # key-level split: no customer appears on both sides
    both = train.select("o_custkey").intersect(test.select("o_custkey"))
    assert both.count() == 0
    # stability: same assignment on re-computation
    train2, _ = train_test_split(o, "o_custkey", test_pct=10)
    assert train2.count() == nt


def test_deterministic_sample_fraction(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    frac = deterministic_sample(o, "o_orderkey", 20).count() / o.count()
    assert 0.1 < frac < 0.3  # md5 is uniform-ish at this n


def test_salted_skew_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot",)] + [("cold", 0)],
        "k string, v long")
    right = spark.createDataFrame([("hot", 10.0), ("cold", 20.0)], "k string, w double")
    plain = left.join(right, "k")
    salted = salted_skew_join(left, right, "k", salt_buckets=8)
    assert salted.count() == plain.count() == 201
    assert (sorted(r["w"] for r in salted.filter(F.col("k") == "cold").collect())
            == [20.0])


def test_compaction_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "many")
    # simulate a streaming sink: 12 tiny appends = many small files
    for i in range(12):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 12
    stats = compact_parquet(spark, path, target_mb=128)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert stats["files_before"] == before
    assert stats["files_after"] == 1 and after == 1
    assert stats["rows"] == 120
    assert spark.read.parquet(path).count() == 120  # no rows lost


def test_profile_numeric_stats(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (2.0,)], "x double")
    row = profile_numeric(df, ["x"]).head()
    assert row["n_rows"] == 4 and row["x_nulls"] == 1
    assert row["x_min"] == 1.0 and row["x_max"] == 2.0 and row["x_distinct"] == 2


def test_metadata_stats_pushes_aggregate_to_footer(spark, sf_dir):
    """DSv2 aggregate pushdown: the MIN/MAX/COUNT job reads parquet footers
    (PushedAggregation in every plan), matches a plain aggregate, and the
    scoped confs are restored afterwards."""
    from felixzh_flink_spark.operators.profiling import metadata_stats
    before = spark.conf.get("spark.sql.sources.useV1SourceList")
    out, plans = metadata_stats(spark, f"{sf_dir}/lineitem.parquet",
                                ["l_orderkey", "l_suppkey"])
    assert all("PushedAggregation: [MIN" in p or "PushedAggregation: [Min" in p
               for p in plans), plans[0][:500]
    got = {r["col_name"]: r for r in out.collect()}
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exp = l.agg({"l_orderkey": "min"}).head()[0]
    assert got["l_orderkey"]["min_value"] == str(exp)
    assert got["l_orderkey"]["n_rows"] == l.count()
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == before


# ---------------------------------------------------------------- CEP-lite

def test_sequence_stages_strict_order_and_greedy_complete(spark):
    """Stage i+1 must match strictly AFTER stage i: a user with the right
    event types in the wrong order does not complete; out-of-order input
    rows are irrelevant (the operator sorts); conditions can read any
    payload column, not just the type."""
    from felixzh_flink_spark.operators.cep import (
        funnel_counts, sequence_stages)
    rows = [
        # u1: a-b-c in order (interleaved noise) → stage 3
        (1, 1, "a", 0.0), (1, 2, "x", 0.0), (1, 3, "b", 0.0), (1, 4, "c", 0.0),
        # u2: c first, then a, b — subsequence a..b..c absent → stage 2
        (2, 1, "c", 0.0), (2, 2, "a", 0.0), (2, 3, "b", 0.0),
        # u3: only a → stage 1
        (3, 5, "a", 0.0),
        # u4: a then b with value gate failing on the first b, passing on
        # a later one → greedy still completes (takes the passing b)
        (4, 1, "a", 0.0), (4, 2, "b", 0.5), (4, 3, "b", 2.0), (4, 4, "c", 0.0),
    ]
    df = spark.createDataFrame(rows, "uid long, ts long, typ string, v double")
    conds = ["e.typ = 'a'", "e.typ = 'b' AND e.v > 1.0", "e.typ = 'c'"]
    got = {r["uid"]: r["stage"] for r in
           sequence_stages(df, ["uid"], ["ts"], conds).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3}  # u1's b has v=0 → fails gate
    # plain type-only pattern
    conds2 = ["e.typ = 'a'", "e.typ = 'b'", "e.typ = 'c'"]
    got2 = {r["uid"]: r["stage"] for r in
            sequence_stages(df, ["uid"], ["ts"], conds2).collect()}
    assert got2 == {1: 3, 2: 2, 3: 1, 4: 3}
    f = funnel_counts(df, ["uid"], ["ts"], conds2).head()
    assert (f["n_keys"], f["reached_1"], f["reached_2"], f["reached_3"]) \
        == (4, 4, 3, 2)
    # the plan is pure JVM: no Python eval nodes
    plan = sequence_stages(df, ["uid"], ["ts"], conds2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert not any(n in plan for n in
                   ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"))


def test_heavy_hitters_superset_guarantee(spark):
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.profiling import (
        heavy_hitters, heavy_hitters_verified)
    rows = ([Row(k="hot") for _ in range(60)]
            + [Row(k="warm") for _ in range(30)]
            + [Row(k=f"cold{i}") for i in range(10)])
    df = spark.createDataFrame(rows)
    items = heavy_hitters(df, "k", support=0.2)
    assert "hot" in items and "warm" in items  # > 20% must be present
    out = heavy_hitters_verified(df, "k", support=0.2).collect()
    got = {r["k"]: (r["cnt"], r["in_sketch"]) for r in out}
    assert got == {"hot": (60, True), "warm": (30, True)}


def test_temperature_resample_upweights_small_domains(spark):
    """α=0.5 property: a domain 16× larger gets only ~4× the rows (sqrt
    weighting), so the SMALL domain's keep-rate is higher; tiny domains
    saturate at 100% instead of over-sampling. Kept set is a pure function
    of the data — invariant under repartitioning."""
    from felixzh_flink_spark.operators.sampling import temperature_resample

    rows = ([("big", i) for i in range(1600)]
            + [("small", 10_000 + i) for i in range(100)])
    df = spark.createDataFrame(rows, "domain string, id long")
    kept = temperature_resample(df, "id", "domain", target_total=500)
    counts = {r["domain"]: r["cnt"] for r in
              kept.groupBy("domain").agg(F.count("*").alias("cnt")).collect()}
    # weights: s_big=40, s_small=10, S=50 → expected big 400, small 100
    rate_big = counts["big"] / 1600
    rate_small = counts["small"] / 100
    assert rate_small > rate_big                    # up-weighted
    assert counts["small"] == 100                   # saturated: keeps all
    assert 300 <= counts["big"] <= 500              # ≈ 400 expected

    again = temperature_resample(df.repartition(7, "domain"), "id",
                                 "domain", target_total=500)
    assert sorted(r["id"] for r in kept.collect()) \
        == sorted(r["id"] for r in again.collect())


def test_epoch_shuffle_deterministic_and_seed_dependent(spark):
    from felixzh_flink_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    e1 = epoch_shuffle(df, "id", seed="e1", n_shards=4)
    e1b = epoch_shuffle(df.repartition(5), "id", seed="e1", n_shards=4)
    e2 = epoch_shuffle(df, "id", seed="e2", n_shards=4)
    key = lambda rows: sorted((r["id"], r["shard"], r["pos"]) for r in rows)  # noqa: E731
    assert key(e1.collect()) == key(e1b.collect())      # partition-invariant
    assert key(e1.collect()) != key(e2.collect())       # seed changes order
    # positions are a contiguous 1..N ranking within every shard
    for (_, rows) in __import__("itertools").groupby(
            sorted(e1.collect(), key=lambda r: (r["shard"], r["pos"])),
            key=lambda r: r["shard"]):
        ps = [r["pos"] for r in rows]
        assert ps == list(range(1, len(ps) + 1))


def test_hll_rollup_merges_without_rescan(spark):
    """Union-of-sketches must see the union of keys: two days with
    overlapping users roll up to the distinct count of the union, not the
    sum of the dailies."""
    from felixzh_flink_spark.operators.profiling import (
        hll_daily_sketches, hll_rollup_estimate)
    rows = ([("2024-01-01 10:00:00", u) for u in range(100)]
            + [("2024-01-02 10:00:00", u) for u in range(50, 150)])
    df = spark.createDataFrame(rows, "ts string, user_id long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    daily = hll_daily_sketches(df, "ts", "user_id")
    assert daily.count() == 2
    est = hll_rollup_estimate(daily, "month").head()["approx_distinct"]
    assert abs(est - 150) <= 0.05 * 150   # union is 150, sum would be 200


def test_cap_per_group_reservoir(spark):
    """Groups over the cap shrink to exactly cap rows; under-cap groups
    pass whole; the kept set is partition-invariant and seed-dependent."""
    from felixzh_flink_spark.operators.sampling import cap_per_group

    rows = ([("big", i) for i in range(100)]
            + [("tiny", 1000 + i) for i in range(3)])
    df = spark.createDataFrame(rows, "grp string, id long")
    kept = cap_per_group(df, "id", "grp", cap=10)
    counts = {r["grp"]: r["c"] for r in
              kept.groupBy("grp").agg(F.count("*").alias("c")).collect()}
    assert counts == {"big": 10, "tiny": 3}
    ids = sorted(r["id"] for r in kept.collect())
    again = sorted(r["id"] for r in
                   cap_per_group(df.repartition(9), "id", "grp", cap=10).collect())
    assert ids == again
    other = sorted(r["id"] for r in
                   cap_per_group(df, "id", "grp", cap=10, seed="B").collect())
    assert ids != other


def test_sequence_within_anchor_scan_complete(spark):
    """The case that breaks greedy-first anchoring: the earliest stage-0
    match cannot finish inside the bound, a later one can — WITHIN must
    still match (anchor scan is complete). Ties on ts never chain
    (strict ordering), and an over-tight bound fails."""
    from pyspark.sql import functions as F

    from felixzh_flink_spark.operators.cep import sequence_within

    def ev(uid, ms, typ):
        return (uid, ms / 1000.0, typ)

    rows = [
        # u1: a@0 (greedy anchor, b/c too late for it), a@95, b@100, c@105
        ev(1, 0, "a"), ev(1, 95, "a"), ev(1, 100, "b"), ev(1, 105, "c"),
        # u2: full sequence but spread over 200ms > bound
        ev(2, 0, "a"), ev(2, 150, "b"), ev(2, 200, "c"),
        # u3: b and c share a timestamp — strict ordering: no chain
        ev(3, 0, "a"), ev(3, 5, "b"), ev(3, 5, "c"),
    ]
    df = spark.createDataFrame(rows, "uid long, sec double, typ string") \
        .select("uid", F.col("sec").cast("timestamp").alias("ts"), "typ")
    conds = ["e.typ = 'a'", "e.typ = 'b'", "e.typ = 'c'"]
    got = {r["uid"]: r["matched"] for r in
           sequence_within(df, ["uid"], "ts", conds, within_ms=20).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_constraint_report_catches_violations(spark):
    """Every constraint family fires on a crafted bad table and stays
    quiet on a clean one; null FK values are not orphans."""
    from felixzh_flink_spark.operators.profiling import constraint_report

    child = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, -1.0), (2, None, 3.0), (3, 99, 0.0)],
        "id long, parent_id long, amt double")
    parent = spark.createDataFrame([(10,), (20,)], "pid long")
    rep = {r["constraint"]: (r["violations"], r["passed"])
           for r in constraint_report(
               child, unique=["id"], not_null=["parent_id"],
               positive=["amt"],
               foreign_keys=[("parent_id", parent, "pid")]).collect()}
    assert rep["unique(id)"] == (1, False)        # id 1 twice
    assert rep["not_null(parent_id)"] == (1, False)
    assert rep["positive(amt)"] == (2, False)     # -1.0 and 0.0
    assert rep["fk(parent_id)"] == (1, False)     # 99 orphaned; null skipped
    clean = constraint_report(parent, unique=["pid"], not_null=["pid"])
    assert all(r["passed"] for r in clean.collect())


def test_sequence_within_literal_dots_and_single_stage(spark):
    """Conditions containing 'e.' inside a STRING LITERAL must not be
    corrupted (dotted event names are routine), and a one-stage pattern
    must work (previously a CASE-with-no-WHEN parse error)."""
    from pyspark.sql import functions as F

    from felixzh_flink_spark.operators.cep import sequence_within

    rows = [(1, 0.0, "page.view"), (1, 1.0, "page.close"),
            (2, 0.0, "other")]
    df = spark.createDataFrame(rows, "uid long, sec double, typ string") \
        .select("uid", F.col("sec").cast("timestamp").alias("ts"), "typ")
    got = {r["uid"]: r["matched"] for r in sequence_within(
        df, ["uid"], "ts", ["e.typ = 'page.view'", "e.typ = 'page.close'"],
        within_ms=5000).collect()}
    assert got == {1: True, 2: False}
    one = {r["uid"]: r["matched"] for r in sequence_within(
        df, ["uid"], "ts", ["e.typ = 'page.view'"], within_ms=1).collect()}
    assert one == {1: True, 2: False}


def test_null_keys_survive_splits_and_domains(spark):
    """NULL keys hash through a sentinel (md5(NULL) is NULL and fails both
    split predicates — rows used to vanish from BOTH sides); NULL domains
    keep their own temperature stratum (the inner join used to drop
    them)."""
    from felixzh_flink_spark.operators.sampling import (
        temperature_resample, train_test_split)

    df = spark.createDataFrame([(None,), (1,), (2,)], "k long")
    train, test = train_test_split(df, "k", test_pct=50)
    assert train.count() + test.count() == 3        # exhaustive incl. null

    docs = spark.createDataFrame(
        [(i, "a") for i in range(50)] + [(100 + i, None) for i in range(50)],
        "id long, dom string")
    kept = temperature_resample(docs, "id", "dom", target_total=100)
    doms = {r["dom"] for r in kept.select("dom").distinct().collect()}
    assert None in doms                              # null stratum sampled


def test_content_split_never_leaks_duplicate_text(spark):
    from felixzh_flink_spark.operators.sampling import content_split
    rows = [(i, f"unique doc number {i} words") for i in range(200)]
    rows += [(1000 + i, f"unique doc number {i} words") for i in range(200)]  # dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = content_split(df)
    # every text lands on exactly one side
    leaks = (out.groupBy("text")
             .agg(F.count_distinct("split").alias("n"))
             .filter(F.col("n") > 1).count())
    assert leaks == 0
    # both splits populated and exhaustive
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 400 and set(counts) == {"train", "test"}


def test_content_split_whitespace_insensitive(spark):
    from felixzh_flink_spark.operators.sampling import content_split
    df = spark.createDataFrame(
        [(1, "same words here"), (2, "  same   words here ")],
        "doc_id long, text string")
    assert out_splits(content_split(df)) == 1


def out_splits(df):
    return df.select("split").distinct().count()


def test_quantile_bins_even_and_deterministic(spark):
    from felixzh_flink_spark.operators.sampling import quantile_bins
    df = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(100)], "doc_id long, score double")
    out = quantile_bins(df, "score", 10, id_col="doc_id")
    sizes = {r["bin"]: r["n"] for r in
             out.groupBy("bin").agg(F.count("*").alias("n")).collect()}
    assert sizes == {b: 10 for b in range(1, 11)}  # 100 rows / 10 bins
    # deterministic under repartitioning (total order on (score, id))
    again = quantile_bins(df.repartition(7), "score", 10, id_col="doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_quantile_bins_approx_tracks_exact(spark):
    from felixzh_flink_spark.operators.sampling import (
        quantile_bins, quantile_bins_approx)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "doc_id long, score double")
    exact = {r["doc_id"]: r["bin"]
             for r in quantile_bins(df, "score", 10, id_col="doc_id").collect()}
    approx = {r["doc_id"]: r["bin"]
              for r in quantile_bins_approx(df, "score", 10).collect()}
    # distinct scores + tight rel_err: every row within one bin of exact
    assert all(abs(approx[k] - exact[k]) <= 1 for k in exact)
    assert sum(approx[k] == exact[k] for k in exact) >= 950


def test_temperature_resample_large_target_no_overflow(spark):
    from felixzh_flink_spark.operators.sampling import temperature_resample
    df = spark.createDataFrame(
        [(i, "d%d" % (i % 3)) for i in range(60)], "id long, dom string")
    # target_total * buckets = 3e9 > 2^31: must not overflow (ANSI crash
    # or silent negative threshold); saturated thresholds keep everything
    kept = temperature_resample(df, "id", "dom", target_total=300_000)
    assert kept.count() == 60


def test_cms_overcounts_only_and_merges(spark):
    from felixzh_flink_spark.operators.profiling import (
        cms_build, cms_estimate, cms_merge)
    rows = [(w,) for w, n in
            [("apple", 30), ("banana", 12), ("cherry", 5), ("date", 1)]
            for _ in range(n)]
    df = spark.createDataFrame(rows, "tok string")
    keys = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",), ("date",), ("unseen",)],
        "tok string")
    exact = {"apple": 30, "banana": 12, "cherry": 5, "date": 1, "unseen": 0}
    # tiny width forces collisions -> overcount, never undercount
    cms = cms_build(df, "tok", depth=3, width=4)
    est = {r["tok"]: r["est_cnt"]
           for r in cms_estimate(cms, keys, "tok", depth=3, width=4).collect()}
    assert all(est[t] >= exact[t] for t in exact)
    # wide sketch on skewless data: estimates exact
    cms_w = cms_build(df, "tok", depth=4, width=512)
    est_w = {r["tok"]: r["est_cnt"]
             for r in cms_estimate(cms_w, keys, "tok", depth=4, width=512).collect()}
    assert est_w == exact
    # merge of disjoint halves == sketch of the union
    half_a = spark.createDataFrame(rows[:24], "tok string")
    half_b = spark.createDataFrame(rows[24:], "tok string")
    merged = cms_merge(cms_build(half_a, "tok", depth=3, width=4),
                       cms_build(half_b, "tok", depth=3, width=4))
    assert sorted(merged.collect()) == sorted(cms.collect())


def test_cms_estimate_keys_may_carry_colliding_column_names(spark):
    from felixzh_flink_spark.operators.profiling import (
        cms_build, cms_estimate)
    import pytest
    df = spark.createDataFrame([("a",)] * 7 + [("b",)] * 3, "tok string")
    cms = cms_build(df, "tok", depth=4, width=512)
    # a keys frame with its own j/bucket/cnt columns must not corrupt the
    # join — internal probe columns are namespaced _cms_*
    keys = spark.createDataFrame(
        [("a", 99, 99, 99), ("b", -1, -1, -1)],
        "tok string, j int, bucket int, cnt int")
    est = {r["tok"]: r["est_cnt"]
           for r in cms_estimate(cms, keys, "tok",
                                 depth=4, width=512).collect()}
    assert est == {"a": 7, "b": 3}
    # the reserved internal names themselves are rejected loudly
    bad = spark.createDataFrame([("a", 1)], "tok string, _cms_j int")
    with pytest.raises(ValueError, match="reserved"):
        cms_estimate(cms, bad, "tok", depth=4, width=512)


def test_interleave_sources_missing_weight_fails_loudly(spark):
    from felixzh_flink_spark.operators.sampling import interleave_sources
    import pytest
    df = spark.createDataFrame(
        [(1, "big"), (2, "orphan")], "doc_id long, source string")
    out = interleave_sources(df, "doc_id", "source", {"big": 1.0})
    with pytest.raises(Exception, match="no weight.*orphan"):
        out.collect()


def test_interleave_sources_stride_ratios(spark):
    from felixzh_flink_spark.operators.sampling import interleave_sources
    rows = ([(i, "big") for i in range(100)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = interleave_sources(df, "doc_id", "source",
                             {"big": 1.0, "small": 0.25})
    rs = sorted(out.collect(), key=lambda r: r["pos"])
    # reading the first 50 positions: big appears ~4x as often as small
    head = [r["source"] for r in rs[:50]]
    assert 35 <= head.count("big") <= 45 and 5 <= head.count("small") <= 15
    # ranks are contiguous within each source
    for src in ("big", "small"):
        ranks = sorted(r["rank_in_source"] for r in rs if r["source"] == src)
        assert ranks == list(range(1, 101))
    # deterministic across partitionings
    out2 = interleave_sources(df.repartition(9), "doc_id", "source",
                              {"big": 1.0, "small": 0.25})
    assert sorted((r["doc_id"], r["pos"]) for r in out.collect()) == \
           sorted((r["doc_id"], r["pos"]) for r in out2.collect())


def test_winsorize_clamps_to_fences(spark):
    from felixzh_flink_spark.operators.profiling import winsorize
    rows = [(float(i),) for i in range(1, 100)] + [(10000.0,), (-500.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = winsorize(df, "v", 0.05, 0.95).collect()
    lo = min(r["v_w"] for r in out)
    hi = max(r["v_w"] for r in out)
    flags = {r["v"]: r["v_clamped"] for r in out}
    assert flags[10000.0] == 1 and flags[-500.0] == -1
    assert flags[50.0] == 0
    assert all(lo <= r["v_w"] <= hi for r in out)
    assert sum(1 for r in out if r["v_clamped"] != 0) < len(out) * 0.15


def test_psi_report_detects_shift(spark):
    from felixzh_flink_spark.operators.profiling import psi_report
    ref = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
    same = spark.createDataFrame([(float((i * 7) % 100),) for i in range(1000)], "v double")
    shifted = spark.createDataFrame([(float(i % 100) + 50.0,) for i in range(1000)], "v double")
    edges = [25.0, 50.0, 75.0]
    psi_same = sum(r["term"] for r in psi_report(ref, same, "v", edges).collect())
    psi_shift = sum(r["term"] for r in psi_report(ref, shifted, "v", edges).collect())
    assert psi_same < 0.01          # identical distribution: stable
    assert psi_shift > 0.25         # mass moved up two bins: shifted
    # every bin emitted, even the emptied ones
    assert psi_report(ref, shifted, "v", edges).count() == 4


def test_exact_percentiles_frame_match_builtin(spark):
    from felixzh_flink_spark.operators.profiling import (
        exact_percentiles_frame)
    import random
    random.seed(3)
    vals = [(random.random() * 1000,) for _ in range(997)]
    df = spark.createDataFrame(vals, "v double")
    ps = [0.0, 0.01, 0.5, 0.73, 0.99, 1.0]
    got = list(exact_percentiles_frame(df, "v", ps).first()["q"])
    want = df.agg(F.expr(
        f"percentile(v, array({','.join(map(repr, ps))}))")).first()[0]
    assert got == list(want)  # bit-identical order statistics
    # stable under repartitioning
    assert list(exact_percentiles_frame(
        df.repartition(13), "v", ps).first()["q"]) == got


def test_robust_zscore_flags_only_true_outliers(spark):
    from felixzh_flink_spark.operators.profiling import robust_zscore
    rows = [("a", float(v)) for v in range(1, 101)] + [("a", 10000.0),
            ("b", 5.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_zscore(df, "v", "g", k=3.0).collect()
    flagged = [r["v"] for r in out if r["is_outlier"]]
    assert flagged == [10000.0]
    # median/IQR are not dragged by the outlier: z of in-band values small
    assert all(abs(r["z"]) < 3 for r in out if r["g"] == "a" and r["v"] <= 100)
    # zero-IQR group: z NULL, never flagged
    b = [r for r in out if r["g"] == "b"]
    assert all(r["z"] is None and not r["is_outlier"] for r in b)


def test_leakage_safe_split_keeps_dup_groups_together(spark):
    """Every fingerprint group lands wholly on one side (THE guarantee);
    split is disjoint-exhaustive and deterministic; and the per-doc hash
    split demonstrably WOULD have leaked on the same data — the failure
    mode this operator exists to prevent."""
    from pyspark.sql import functions as F

    from felixzh_flink_spark.operators.sampling import (
        hash_bucket,
        leakage_safe_split,
    )
    from felixzh_flink_spark.operators.text import fingerprint_md5

    # 60 duplicate pairs (2i, 2i+1 share text) + 80 unique docs
    rows = [(2 * i + j, f"dup text number {i}")
            for i in range(60) for j in (0, 1)]
    rows += [(1000 + i, f"unique text {i}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(fingerprint_md5(df, "text"), "fingerprint")

    # group cohesion: one split value per fingerprint
    per_group = (out.groupBy("fingerprint")
                 .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r.k == 1 for r in per_group)
    # disjoint-exhaustive over the input
    assert out.count() == len(rows)
    assert out.filter(~F.col("split").isin("train", "test")).count() == 0
    assert out.filter(F.col("split") == "test").count() > 0
    # determinism
    again = leakage_safe_split(fingerprint_md5(df, "text"), "fingerprint")
    assert sorted(map(tuple, out.select("doc_id", "split").collect())) == \
        sorted(map(tuple, again.select("doc_id", "split").collect()))
    # counterfactual: the per-doc hash split leaks on this corpus
    naive = df.withColumn(
        "split", F.when(hash_bucket(F.col("doc_id")) < 10, "test")
                  .otherwise("train"))
    leaked = (fingerprint_md5(naive, "text").groupBy("fingerprint")
              .agg(F.countDistinct("split").alias("k"))
              .filter(F.col("k") > 1).count())
    assert leaked > 0


def test_psi_report_tagged_single_scan_bit_identical(spark):
    """The r12 single-scan `tagged` form must emit bit-identical rows to
    the two-frame union form (same per-(side, bin) count multisets), for
    both literal and lazy edges, and its plan must scan the source once."""
    from felixzh_flink_spark.operators.profiling import (
        percentiles_frame, psi_report)
    src = spark.createDataFrame(
        [(i % 2, float((i * 13) % 100)) for i in range(500)],
        "_side int, v double")
    ref = src.filter("_side = 0").select("v")
    cur = src.filter("_side = 1").select("v")
    edges = [25.0, 50.0, 75.0]
    want = sorted(map(tuple, psi_report(ref, cur, "v", edges).collect()))
    got = sorted(map(tuple, psi_report(
        None, None, "v", edges, tagged=src).collect()))
    assert got == want  # bit-identical probabilities and terms
    lazy = percentiles_frame(ref, "v", [0.25, 0.5, 0.75])
    want_l = sorted(map(tuple, psi_report(
        ref, cur, "v", lazy, n_edges=3).collect()))
    got_l = sorted(map(tuple, psi_report(
        None, None, "v", lazy, n_edges=3, tagged=src).collect()))
    assert got_l == want_l
    # one source reference in the tagged ANALYZED plan, two in the
    # union form's (the optimizer folds LocalRelations, so the scan
    # count is asserted pre-optimization; for the parquet-backed
    # registry query the dumped physical plans carry the evidence)
    plan_t = psi_report(None, None, "v", edges, tagged=src) \
        ._jdf.queryExecution().analyzed().toString()
    plan_u = psi_report(ref, cur, "v", edges) \
        ._jdf.queryExecution().analyzed().toString()
    assert plan_t.count("LogicalRDD") + plan_t.count("LocalRelation") == 1
    assert plan_u.count("LogicalRDD") + plan_u.count("LocalRelation") == 2

import pytest

from pyspark.sql import functions as F

from felixzh_flink_spark.operators import dedup as DD
from felixzh_flink_spark.operators import similarity as SIM


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    far = "completely different words in this tiny document about spark engines"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string")


def test_dedup_exact_groups_identical_docs(spark):
    out = DD.dedup_exact(_docs(spark))
    by_keep = {r["keep_id"]: r["n_dupes"] for r in out.collect()}
    assert by_keep[1] == 2  # docs 1 and 4 identical
    assert by_keep[2] == 1 and by_keep[3] == 1


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    rows = DD.shingles(df, n=3).collect()
    assert [(r["id"], r["shingle"]) for r in rows] == [(1, "a b")]


def test_ngram_jaccard_finds_near_dupes(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0   # identical
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near-dup
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_catches_what_jaccard_catches(spark):
    docs = _docs(spark)
    exact = {(r["id_a"], r["id_b"])
             for r in DD.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()}
    cand = {(r["id_a"], r["id_b"])
            for r in DD.minhash_lsh_candidates(docs, n=3, num_perm=64, bands=16).collect()}
    assert exact <= cand  # LSH candidates ⊇ high-jaccard pairs


def test_minhash_dedup_pipeline_end_to_end(spark):
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in DD.minhash_dedup_pairs(_docs(spark), n=3, threshold=0.9).collect()}
    assert (1, 4) in out and out[(1, 4)] == 1.0


def test_simhash_identical_docs_same_fingerprint(spark):
    fps = {r["id"]: r["simhash"] for r in DD.simhash(_docs(spark)).collect()}
    assert fps[1] == fps[4]
    assert fps[1] != fps[3]


def test_simhash_near_pairs_includes_identical(spark):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in DD.simhash_near_pairs(_docs(spark), max_hamming=6).collect()}
    assert pairs.get((1, 4)) == 0


@pytest.mark.parametrize("max_hamming", [3, 6])
def test_simhash_near_pairs_match_all_pairs_hamming(spark, sf_dir,
                                                    max_hamming):
    """Completeness of the banded join: every pair of fixture documents
    within `max_hamming` bits comes back, with its exact distance, and
    nothing else — against brute-force all-pairs Hamming over the same
    fingerprints. At max_hamming=6 the 7 bands are 9 bits wide and one
    bit falls in no band."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = sorted((r["id"], r["simhash"]) for r in DD.simhash(docs).collect())
    want = {}
    for i, (a, ha) in enumerate(fps):
        for b, hb in fps[i + 1:]:
            d = bin((ha ^ hb) & (2 ** 64 - 1)).count("1")
            if d <= max_hamming:
                want[(a, b)] = d
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           DD.simhash_near_pairs(docs, max_hamming=max_hamming).collect()}
    assert want and got == want


def test_cosine_topk_bruteforce_self_is_top(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 5).head()["embedding"])
    top = SIM.cosine_topk_bruteforce(e, qv, k=3).collect()
    assert top[0]["id"] == 5
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-9


def test_lsh_topk_contains_query_vector(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 5).head()["embedding"])
    approx = SIM.lsh_bucketed_topk(e, qv, k=5)
    ids = [r["id"] for r in approx.collect()]
    assert 5 in ids  # the vector itself always lands in the query's bucket


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 0).head()["embedding"])
    exact_ids = {r["id"] for r in SIM.cosine_topk_bruteforce(e, qv, k=10).collect()}
    # widen the probe ring → recall grows; at hamming<=8 of 8 planes the scan
    # is exhaustive so recall is 1.0 by construction
    full = {r["id"] for r in SIM.lsh_bucketed_topk(e, qv, k=10, max_hamming=8).collect()}
    assert full == exact_ids


def test_minhash_verified_only_scores_candidates(spark):
    """The verified pipeline must equal exact Jaccard on pairs LSH catches —
    and with 16 bands / 4 rows identical docs always collide."""
    docs = _docs(spark)
    verified = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in DD.minhash_dedup_pairs(docs, n=3, threshold=0.5).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert set(verified) <= set(exact)
    for p, j in verified.items():
        assert abs(j - exact[p]) < 1e-12


def test_ivf_topk_finds_self_and_matches_bruteforce_head(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 7).head()["embedding"])
    top = SIM.ivf_topk(e, qv, k=5, n_centroids=8, n_probe=2).collect()
    assert top[0]["id"] == 7              # own cell is always probed first
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-9
    # probing every cell == brute force
    exact = [r["id"] for r in SIM.cosine_topk_bruteforce(e, qv, k=5).collect()]
    full = [r["id"] for r in SIM.ivf_topk(e, qv, k=5, n_centroids=8, n_probe=8).collect()]
    assert full == exact


def test_ivf_refined_centroids_improve_or_match_recall(spark, sf_dir):
    """One Lloyd iteration must keep cells valid: refined top-k still finds
    the query vector, and probing all cells still equals brute force."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.filter(F.col("vec_id") == 3).head()["embedding"])
    init = SIM.ivf_centroids(e, n_centroids=8)
    refined = SIM.ivf_refine_centroids(e, init, iterations=1)
    assert len(refined) == 8 and len(refined[0]) == len(init[0])
    assigned = SIM.ivf_assign(e, refined)
    # every row lands in a valid cell
    cells = {r["ivf_cell"] for r in assigned.select("ivf_cell").distinct().collect()}
    assert cells <= set(range(1, 9))
    # exhaustive probe over refined cells == brute force
    q = F.array(*[F.lit(float(x)) for x in qv])
    scored = assigned.select(F.col("vec_id").alias("id"),
                             SIM.cosine(F.col("embedding"), q).alias("cosine_sim"))
    full = [r["id"] for r in scored.orderBy(F.desc("cosine_sim"), F.asc("id")).limit(5).collect()]
    exact = [r["id"] for r in SIM.cosine_topk_bruteforce(e, qv, k=5).collect()]
    assert full == exact


def test_ivf_train_converges_and_deterministic(spark, sf_dir):
    """Lloyd training: deterministic across runs, and a further refinement
    step moves centroids less than the first one did (monotone-ish
    convergence on the synthetic vectors)."""
    from felixzh_flink_spark.operators import similarity as SIM
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = SIM.ivf_train(e, n_centroids=8, max_iter=3)
    b = SIM.ivf_train(e, n_centroids=8, max_iter=3)
    assert a == b

    def shift(c1, c2):
        return max(sum((x - y) ** 2 for x, y in zip(u, v)) ** 0.5
                   for u, v in zip(c1, c2))

    init = SIM.ivf_centroids(e, 8)
    one = SIM.ivf_refine_centroids(e, init, iterations=1)
    two = SIM.ivf_refine_centroids(e, one, iterations=1)
    assert shift(one, two) < shift(init, one)


def test_semantic_dedup_drops_known_dups(spark):
    """Identical vectors land in one cell; the larger ids are marked dups and
    the smallest id survives. Distinct vectors all survive."""
    from felixzh_flink_spark.operators import similarity as SIM
    import random
    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    other = [rng.uniform(-1, 1) for _ in range(8)]
    rows = ([(1, base), (2, base), (3, base)]
            + [(10 + i, [x * (1 + 0.001 * i) for x in other]) for i in range(3)]
            + [(50, [rng.uniform(-1, 1) for _ in range(8)])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r["keep"] for r in
           SIM.semantic_dedup(df, threshold=0.999, n_centroids=2,
                              train_iter=1).collect()}
    assert out[1] is True and out[2] is False and out[3] is False
    # scaled copies of `other` are cosine-identical → near-dups of id 10
    assert out[10] is True and out[11] is False and out[12] is False
    assert out[50] is True
    assert len(out) == 7


def test_semantic_dedup_pq_sound_and_finds_near_identicals(spark):
    """The PQ-scored path (corpus-scale switch, round-8): identical /
    near-identical vectors share PQ codes so their ADC score is ~1 and
    they are flagged; exact_confirm makes every flagged dup a true dup
    (precision 1); contract shape matches `semantic_dedup` (one row per
    id, same columns)."""
    import random
    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    other = [rng.uniform(-1, 1) for _ in range(8)]
    rows = ([(1, base), (2, base), (3, [x * 1.0001 for x in base])]
            + [(10, other), (11, [x * (1 + 1e-5) for x in other])]
            + [(50, [rng.uniform(-1, 1) for _ in range(8)])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [base, [rng.uniform(-1, 1) for _ in range(8)]]
    books = SIM.pq_train(df, m=4, code_k=4, dim=8, train_iter=1)
    out = {r["id"]: r["keep"] for r in
           SIM.semantic_dedup_pq(df, threshold=0.999, cents=cents,
                                 books=books, dim=8, margin=0.05).collect()}
    assert out[1] is True and out[2] is False and out[3] is False
    assert out[10] is True and out[11] is False
    assert out[50] is True
    assert len(out) == 6
    # soundness: every PQ-flagged dup is a dup under the exact path
    exact = {r["id"]: r["keep"] for r in
             SIM.semantic_dedup(df, threshold=0.999, cents=cents).collect()}
    for i, keep in out.items():
        if keep is False:
            assert exact[i] is False
    # exact_confirm=False still finds the code-identical dups
    approx = {r["id"]: r["keep"] for r in
              SIM.semantic_dedup_pq(df, threshold=0.999, cents=cents,
                                    books=books, dim=8,
                                    exact_confirm=False).collect()}
    assert approx[2] is False and approx[1] is True


def test_pq_train_one_pass_matches_per_subspace_math(spark):
    """The single-exploded-pass trainer must reproduce the per-subspace
    loop exactly: same hash-sampled init rows for every subspace, same
    assignments, same means (here: two well-separated clusters per
    subspace recover the cluster means as codewords)."""
    rows = [(i, ([1.0] * 4 if i % 2 == 0 else [5.0] * 4)
             + ([2.0] * 4 if i % 2 == 0 else [9.0] * 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = SIM.pq_train(df, m=2, code_k=2, dim=8, train_iter=2)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    got0 = sorted(tuple(round(x, 9) for x in cv) for cv in books[0])
    got1 = sorted(tuple(round(x, 9) for x in cv) for cv in books[1])
    assert got0 == [(1.0,) * 4, (5.0,) * 4]
    assert got1 == [(2.0,) * 4, (9.0,) * 4]


def test_semantic_dedup_hot_cell_guard(spark):
    """`max_cell_size`: a degenerate cell (every vector identical → one
    k-means cell) is excluded from the pair search — its rows come back
    keep=true and contribute ZERO candidate pairs — while a small cell's
    dups are still caught. Without the cap the same data marks the
    degenerate cell's larger ids as dups (quadratic pair work)."""
    from felixzh_flink_spark.operators import similarity as SIM
    import random
    rng = random.Random(11)
    collapsed = [rng.uniform(-1, 1) for _ in range(8)]
    other = [rng.uniform(-1, 1) for _ in range(8)]
    # 30 identical vectors (one degenerate cell) + a 2-member near-dup cell
    rows = ([(i, collapsed) for i in range(30)]
            + [(100, other), (101, [x * 1.0001 for x in other])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [collapsed, other]  # fixed centroids: deterministic 2-cell split
    uncapped = {r["id"]: r["keep"] for r in
                SIM.semantic_dedup(df, threshold=0.999,
                                   cents=cents).collect()}
    capped = {r["id"]: r["keep"] for r in
              SIM.semantic_dedup(df, threshold=0.999, cents=cents,
                                 max_cell_size=10).collect()}
    # uncapped: degenerate cell pays B² pairs and marks 29 dups
    assert uncapped[0] is True
    assert all(uncapped[i] is False for i in range(1, 30))
    # capped: over-cap cell skipped entirely — all keep=true, bounded work
    assert all(capped[i] is True for i in range(30))
    # the small cell is under the cap: its dup is still caught either way
    assert capped[100] is True and capped[101] is False
    assert uncapped[100] is True and uncapped[101] is False
    assert len(capped) == 32
    # precomputed-counts path (ingest-time stats → literal filter) must
    # decide identically to the computed path
    counts = {1: 30, 2: 2}
    lit = {r["id"]: r["keep"] for r in
           SIM.semantic_dedup(df, threshold=0.999, cents=cents,
                              max_cell_size=10,
                              cell_counts=counts).collect()}
    assert lit == capped


def test_quantized_cosine_close_to_exact(spark, sf_dir):
    """int8 quantization: dequantized cosine within 2% of exact on the
    synthetic vectors; values stay in [-127, 127]."""
    from pyspark.sql import functions as F
    from felixzh_flink_spark.operators import similarity as SIM
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = SIM.quantize_embeddings(e)
    r = q.select(
        F.array_min("qvec").alias("mn"), F.array_max("qvec").alias("mx"),
    ).agg(F.min("mn").alias("mn"), F.max("mx").alias("mx")).head()
    assert -127 <= r["mn"] and r["mx"] <= 127
    rows = q.select("vec_id", "embedding", "qvec", "qscale").collect()
    probe = list(rows[0]["embedding"])

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    for row in rows[1:10]:
        exact = cos(probe, list(row["embedding"]))
        deq = [x * row["qscale"] for x in row["qvec"]]
        assert abs(cos(probe, deq) - exact) < 0.02


def test_lsh_hot_bucket_guard(spark):
    """Stop-bucket cap: a degenerate mega-bucket (identical boilerplate in
    many docs) is dropped from candidate generation while normal near-dup
    pairs survive; without the cap the same data yields quadratic pairs."""
    from felixzh_flink_spark.operators.dedup import minhash_lsh_candidates
    boiler = [(i, "lorem ipsum dolor sit amet over and over") for i in range(40)]
    pair = [(100, "a unique document about spark shuffles and state"),
            (101, "a unique document about spark shuffles and state too")]
    df = spark.createDataFrame(boiler + pair, ["doc_id", "text"])
    uncapped = minhash_lsh_candidates(df, n=3, num_perm=32, bands=16)
    capped = minhash_lsh_candidates(df, n=3, num_perm=32, bands=16,
                                    max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got                      # real near-dup survives
    assert not any(a < 40 and b < 40 for a, b in got)   # mega-bucket dropped
    assert uncapped.count() > capped.count()      # the cap actually cut work


def test_ivf_index_probe_prunes_partitions_and_matches_inline(spark, sf_dir, tmp_path):
    """The materialized IVF index: probing reads only the probed cells'
    directories (PartitionFilters on ivf_cell) and returns exactly the
    inline ivf_topk result for the same centroids/probes."""
    from pyspark.sql import functions as F
    from felixzh_flink_spark.operators import similarity as SIM
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.ivf_centroids(e, 8)
    path = str(tmp_path / "ivf_index")
    SIM.write_ivf_index(e, path, cents)
    qv = list(e.filter(F.col("vec_id") == 0).head()["embedding"])
    from_index = SIM.ivf_topk_from_index(spark, path, cents, qv, k=10, n_probe=3)
    plan = from_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_cell" in \
        plan.split("PartitionFilters:")[1][:300]
    inline = SIM.ivf_topk(e, qv, k=10, n_centroids=8, n_probe=3, cents=cents)
    assert [(r["id"], r["cosine_sim"]) for r in from_index.collect()] == \
        [(r["id"], r["cosine_sim"]) for r in inline.collect()]


def test_pq_encode_decode_recovers_clustered_neighbors(spark):
    """PQ on well-clustered data: codes are valid and deterministic, the
    ADC probe's top-k contains the true nearest neighbors of the query's
    own cluster, and the encode/probe plans stay JVM-only."""
    from felixzh_flink_spark.operators import similarity as SIM

    # 4 tight clusters in 16-dim: cluster c = unit vector along axes
    # 4c..4c+3 plus per-point jitter from a fixed integer pattern
    rows = []
    for c in range(4):
        base = [0.0] * 16
        for a in range(4):
            base[4 * c + a] = 1.0
        for i in range(50):
            v = list(base)
            v[(i * 7) % 16] += 0.01 * ((i % 5) - 2)
            rows.append((c * 50 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = SIM.pq_train(df, m=4, code_k=8, dim=16, train_iter=2)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    enc = SIM.pq_encode(df, books)
    codes = enc.select("pq_code").collect()
    assert all(len(r["pq_code"]) == 4 and
               all(0 <= x < 8 for x in r["pq_code"]) for r in codes)
    # same input twice -> identical codes (deterministic train + encode)
    enc2 = SIM.pq_encode(df, books)
    assert sorted(map(tuple, (r["pq_code"] for r in codes))) == \
        sorted(map(tuple, (r["pq_code"] for r in enc2.select("pq_code").collect())))

    qv = [float(x) for x in df.filter("vec_id = 0").head()["embedding"]]
    got = [r["id"] for r in SIM.pq_topk(enc, books, qv, k=10, rerank=60).collect()]
    assert got[0] == 0                      # self is top-1 after re-rank
    assert all(i < 50 for i in got)         # all hits from cluster 0
    plan = SIM.pq_topk(enc, books, qv, k=10, rerank=60) \
        ._jdf.queryExecution().executedPlan().toString()
    assert not any(n in plan for n in
                   ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"))


def test_cosine_topk_multi_matches_single_query(spark, sf_dir):
    """One-scan batch form must return bit-identical per-query rankings to
    the single-query brute force for every query in the batch."""
    from felixzh_flink_spark.operators import similarity as SIM

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = e.filter("vec_id IN (0, 1)").select("vec_id", "embedding").collect()
    queries = {int(r["vec_id"]): list(r["embedding"]) for r in qrows}
    multi = SIM.cosine_topk_multi(e, queries, k=5)
    for qid, qv in queries.items():
        single = [(r["id"], r["cosine_sim"])
                  for r in SIM.cosine_topk_bruteforce(e, qv, k=5).collect()]
        got = [(r["id"], r["cosine_sim"])
               for r in multi.filter(F.col("query_id") == qid)
               .orderBy(F.desc("cosine_sim"), F.asc("id")).collect()]
        assert got == single


def test_edit_distance_pairs_blocking_and_verify(spark):
    """Docs sharing an 8-char prefix with few edits pair up; a doc with a
    different prefix never pairs even at distance 1 (blocking is the
    documented recall trade); whitespace differences normalize away."""
    docs = [
        (1, "the quick brown fox jumps over the dog"),
        (2, "the quick brown fox jumps over the cat"),       # 3 edits from 1
        (3, "the   quick brown fox jumps over the dog"),     # = 1 after norm
        (4, "xhe quick brown fox jumps over the dog"),       # prefix differs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from felixzh_flink_spark.operators.dedup import edit_distance_pairs
    got = {(r["id_a"], r["id_b"]): r["edits"]
           for r in edit_distance_pairs(df, max_edits=5).collect()}
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 0 and got[(2, 3)] == 3
    assert not any(4 in p for p in got)


# ------------------------------------------------- exact-substring spans

def test_repeated_spans_flags_cross_doc_runs(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame([
        (1, shared + " one two three"),
        (2, "x y z " + shared),
        (3, "totally unrelated words here that never repeat anywhere else ok"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
           for r in DD.repeated_span_stats(df, w=8).collect()}
    # docs 1 and 2 share exactly the one 8-token window `shared`
    assert out[1][1] == 1 and out[2][1] == 1
    assert 3 not in out  # no cross-doc span
    # span totals: doc1 has 11 tokens -> 4 windows; doc2 has 11 -> 4
    assert out[1][0] == 4 and out[2][0] == 4


def test_repeated_spans_ignores_internal_repetition(spark):
    run = "a b c d e f g h"
    df = spark.createDataFrame([
        (1, run + " " + run),  # repeats internally only
        (2, "nothing shared with the first document at all in any window"),
    ], "doc_id long, text string")
    assert DD.repeated_span_stats(df, w=8).count() == 0


def test_repeated_spans_short_docs_dropped(spark):
    df = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], "doc_id long, text string")
    assert DD.repeated_span_stats(df, w=8).count() == 0


def test_keep_best_per_cluster_prefers_quality_then_min_id(spark):
    df = spark.createDataFrame([
        (1, "c1", 1), (2, "c1", 5), (3, "c1", 5),  # best quality 5, tie -> id 2
        (9, "c2", 0),
    ], "doc_id long, cluster string, quality int")
    out = {r["cluster"]: r["doc_id"]
           for r in DD.keep_best_per_cluster(df, "cluster", "quality").collect()}
    assert out == {"c1": 2, "c2": 9}


def test_dedup_incremental_statuses(spark):
    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also committed")], "doc_id long, text string")
    state = DD.dedup_exact(corpus).select("fingerprint")
    new = spark.createDataFrame([
        (10, "seen before"),        # dup of corpus
        (11, "fresh content"),      # new unique
        (12, "fresh content"),      # dup within the batch (11 wins)
        (13, "seen before"),        # also dup of corpus (not dup_in_batch)
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["status"]
           for r in DD.dedup_incremental(new, state).collect()}
    assert out == {10: "dup_of_corpus", 11: "new_unique",
                   12: "dup_in_batch", 13: "dup_of_corpus"}


def test_dedup_incremental_empty_state(spark):
    new = spark.createDataFrame(
        [(1, "a doc"), (2, "a doc")], "doc_id long, text string")
    empty = DD.dedup_exact(new.limit(0)).select("fingerprint")
    out = {r["doc_id"]: r["status"]
           for r in DD.dedup_incremental(new, empty).collect()}
    assert out == {1: "new_unique", 2: "dup_in_batch"}


def test_cut_repeated_spans_removes_shared_run_only(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame([
        (1, "pre " + shared + " post"),
        (2, shared),
        (3, "independent words that appear nowhere else at all today ok"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.cut_repeated_spans(df, w=8).collect()}
    assert out[1]["clean_text"] == "pre post"
    assert out[1]["n_cut_tokens"] == 8
    assert out[2]["clean_text"] == "" and out[2]["n_cut_tokens"] == 8
    # clean doc passes through (normalized join only)
    assert out[3]["clean_text"].startswith("independent words")
    assert out[3]["n_cut_tokens"] == 0


def test_cut_repeated_spans_overlapping_windows_cut_union(spark):
    # 9 shared tokens -> two overlapping 8-windows; the cut is their union
    shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9"
    df = spark.createDataFrame(
        [(1, shared + " tail1 tail2"), (2, "x " + shared)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.cut_repeated_spans(df, w=8).collect()}
    assert out[1]["clean_text"] == "tail1 tail2" and out[1]["n_cut_tokens"] == 9
    assert out[2]["clean_text"] == "x" and out[2]["n_cut_tokens"] == 9


# ------------------------------------------------------- winnowing (MOSS)

def _winnow_py(text, k=5, w=4):
    """Reference winnowing fingerprint set, straight from the paper."""
    import hashlib
    import re
    toks = re.sub(r"\s+", " ", text.strip()).split(" ")
    if len(toks) < k + w - 1:
        return set()
    grams = [int(hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:15], 16)
             for i in range(len(toks) - k + 1)]
    return {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}


def test_winnow_fingerprints_match_reference_walk(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "pack my box with five dozen liquor jugs right now please thanks"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in DD.winnow_fingerprints(df).collect():
        got.setdefault(r["id"], set()).add(r["h"])
    assert got == {i: _winnow_py(t) for i, t in texts}


def test_winnow_shared_run_guarantee(spark):
    # any shared run of >= k + w - 1 = 8 tokens must yield a shared hash
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([
        (1, shared + " one two three four five"),
        (2, "completely different prefix words here " + shared),
        (3, "unrelated filler text that matches nothing of the others at all"),
    ], "doc_id long, text string")
    fps = {}
    for r in DD.winnow_fingerprints(df).collect():
        fps.setdefault(r["id"], set()).add(r["h"])
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_short_docs_dropped(spark):
    df = spark.createDataFrame(
        [(1, "only seven tokens in this doc here")], "doc_id long, text string")
    assert DD.winnow_fingerprints(df).count() == 0


def test_winnow_similar_pairs_and_hot_hash_guard(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, shared + " tail one two"), (2, "x y z " + shared),
            (3, "nothing in common with anybody else in this tiny corpus ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.winnow_similar_pairs(df, min_shared=1).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    p = pairs[0]
    assert 0 < p["containment"] <= 1.0
    assert p["shared"] <= min(p["n_a"], p["n_b"])
    # every fingerprint here is in <= 2 docs; a guard of 1 kills the pair
    assert DD.winnow_similar_pairs(df, min_shared=1,
                                   max_docs_per_hash=1).count() == 0
    assert DD.winnow_similar_pairs(df, min_shared=1,
                                   max_docs_per_hash=2).count() == 1


# -------------------------------------- prefix-filtered exact Jaccard join

def test_token_set_jaccard_join_equals_bruteforce(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),      # near-dup of 1
        (3, "one two three four five six seven eight"),
        (4, "one two three four five six seven nine"),  # near-dup of 3
        (5, "totally different content in this doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jacc"]
           for r in DD.token_set_jaccard_join(df, threshold=0.5).collect()}
    # brute force in python
    import re
    sets = {i: set(re.sub(r"\s+", " ", t.strip()).split(" ")) for i, t in rows}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                o = len(sets[i] & sets[j])
                jc = o / (len(sets[i]) + len(sets[j]) - o)
                if jc >= 0.5:
                    want[(i, j)] = jc
    assert got == want and (1, 2) in got and (3, 4) in got


def test_token_set_jaccard_join_ngram_sets(spark):
    # with 2-gram sets, docs sharing only unordered vocabulary don't pair
    df = spark.createDataFrame([
        (1, "a b c d e f"),
        (2, "f e d c b a"),   # same unigram set, no shared bigrams
        (3, "a b c d e g"),   # shares 4 of the bigrams with doc 1
    ], "doc_id long, text string")
    uni = {(r["id_a"], r["id_b"])
           for r in DD.token_set_jaccard_join(df, threshold=0.9).collect()}
    assert (1, 2) in uni
    bi = {(r["id_a"], r["id_b"]): r["jacc"]
          for r in DD.token_set_jaccard_join(df, threshold=0.5, ngram=2).collect()}
    assert (1, 2) not in bi and bi[(1, 3)] == 4 / 6


def test_token_set_jaccard_join_vocab_knobs_identical_results(spark):
    # shuffle-join, min_df-floored, and uncheckpointed paths must all
    # reproduce the broadcast path bit-for-bit: the prefix filter only
    # needs a SHARED total order, which every knob setting preserves
    rows = [(i, f"alpha beta gamma delta tok{i} tok{i % 3} shared common")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {(r["id_a"], r["id_b"]): (r["o"], r["jacc"])
            for r in DD.token_set_jaccard_join(df, threshold=0.5).collect()}
    assert base  # non-trivial fixture
    for kw in ({"broadcast_vocab": False}, {"min_df": 2},
               {"min_df": 2, "broadcast_vocab": False},
               {"checkpoint_sets": False}):
        got = {(r["id_a"], r["id_b"]): (r["o"], r["jacc"])
               for r in DD.token_set_jaccard_join(
                   df, threshold=0.5, **kw).collect()}
        assert got == base, kw


def test_token_set_jaccard_join_length_filter_no_false_negative(spark):
    # subset relation at the threshold edge: J(a,b) = 3/5
    df = spark.createDataFrame([
        (1, "x y z"), (2, "x y z p q"),
    ], "doc_id long, text string")
    out = DD.token_set_jaccard_join(df, threshold=0.6).collect()
    assert len(out) == 1 and abs(out[0]["jacc"] - 0.6) < 1e-12
    assert DD.token_set_jaccard_join(df, threshold=0.61).count() == 0


# ------------------------------------------------------------- IVF-PQ

def test_ivfpq_recovers_cluster_neighbors_with_partition_pruning(spark, tmp_path):
    import random
    random.seed(7)
    centers = [[random.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = [(i, [centers[i % 4][j] + random.gauss(0, 0.05) for j in range(16)])
            for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.ivf_train(df, n_centroids=4, max_iter=5)
    path = str(tmp_path / "ivfpq")
    books = SIM.ivfpq_build(df, path, cents, m=4, code_k=8, dim=16)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    q = rows[0][1]
    out = SIM.ivfpq_topk(spark, path, cents, books, q, k=5,
                         n_probe=1, rerank=100)
    got = [r["id"] for r in out.collect()]
    brute = [r["id"] for r in SIM.cosine_topk_bruteforce(df, q, k=5).collect()]
    # same tight cluster: the probed single cell holds every true neighbor
    assert len(set(got) & set(brute)) >= 3
    assert all(i % 4 == 0 for i in got)  # all from query's cluster
    # non-probed cells are pruned at the partition level, not filtered
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    # residual codes are valid throughout the index
    enc = spark.read.parquet(path)
    bad = enc.filter(~F.expr("forall(pq_code, c -> c >= 0 AND c < 8)")).count()
    assert bad == 0


def test_contrastive_triplets_deterministic_and_filtered(spark):
    import random
    random.seed(11)
    # two tight duplicate groups + noise
    base = [[random.gauss(0, 1) for _ in range(8)] for _ in range(2)]
    rows = []
    for i in range(40):
        if i < 4:
            src = base[0]
        elif i < 8:
            src = base[1]
        else:
            src = [random.gauss(0, 1) for _ in range(8)]
        rows.append((i, [x + random.gauss(0, 0.01) for x in src]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t = SIM.contrastive_triplets(df, threshold=0.95, k_neg=3, seed="s",
                                 n_planes=4, dim=8, n_rows=40)
    got = t.collect()
    assert got  # the duplicate groups produce positives
    for r in got:
        assert r["cos_ap"] >= 0.95 and r["cos_an"] < 0.95
        assert r["negative"] not in (r["anchor"], r["positive"])
    # pure function of (data, seed): identical on a different partitioning
    t2 = SIM.contrastive_triplets(df.repartition(7), threshold=0.95,
                                  k_neg=3, seed="s", n_planes=4, dim=8,
                                  n_rows=40)
    key = lambda r: (r["anchor"], r["positive"], r["negative"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, t2.collect()))
    # a different seed picks different negatives
    t3 = SIM.contrastive_triplets(df, threshold=0.95, k_neg=3, seed="z",
                                  n_planes=4, dim=8, n_rows=40)
    assert sorted(map(key, got)) != sorted(map(key, t3.collect()))


def test_vector_mean_by_key_exact_and_partition_invariant(spark):
    rows = [(1, [1.0, 2.0, 3.0]), (1, [3.0, 2.0, 1.0]), (2, [10.0, 0.0, -10.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = {r["label"]: (r["n"], r["centroid"])
           for r in SIM.vector_mean_by_key(df, "label").collect()}
    assert out[1] == (2, [2.0, 2.0, 2.0])
    assert out[2] == (1, [10.0, 0.0, -10.0])
    out2 = {r["label"]: (r["n"], r["centroid"])
            for r in SIM.vector_mean_by_key(df.repartition(5), "label").collect()}
    assert out == out2


def test_hyperplanes_distinct_and_buckets_spread(spark):
    """Regression for the round-7 LSH finding: PySpark converts
    loop-shared `F.transform(..., lambda i, p=p: ...)` closures ONCE,
    so every hyperplane silently got plane 0's coefficients and the
    bucketing collapsed to {all-zeros, all-ones}. The coefficients now
    render as per-plane SQL lambdas; this pins (a) pairwise-distinct
    planes and (b) a bucket histogram that actually uses the space."""
    import felixzh_flink_spark.operators.similarity as S

    planes = S._hyperplane_coeffs(spark, 6, 64)
    assert len(planes) == 6
    for i in range(len(planes)):
        for j in range(i + 1, len(planes)):
            assert planes[i] != planes[j], (i, j)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b = S.add_lsh_bucket(e, "embedding", 6, 64)
    n_buckets = b.select("bucket").distinct().count()
    # 500 random vectors over 64 buckets: expect most buckets hit; the
    # broken form produced exactly 2
    assert n_buckets > 16


# ------------------------------------------------- incremental NEAR-dup


def _nd_words(prefix, n=20):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_neardup_incremental_statuses(spark):
    A = _nd_words("alpha")
    B = _nd_words("beta")
    C = _nd_words("gamma")
    corpus = spark.createDataFrame(
        [(1, A), (2, B)], "doc_id long, text string")
    delta = spark.createDataFrame([
        (10, A + " tail"),          # near-dup of committed 1 (J = 16/17)
        (11, C),                    # first of a batch-internal pair
        (12, C + " extra"),         # near-dup of 11 -> batch dup
        (13, A),                    # verbatim committed copy -> corpus wins
        (14, _nd_words("delta")),   # nothing like it anywhere
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in DD.neardup_incremental(
        delta, corpus, n=5, threshold=0.8).collect()}
    assert {i: r["status"] for i, r in rows.items()} == {
        10: "neardup_of_corpus", 11: "new_unique",
        12: "neardup_in_batch", 13: "neardup_of_corpus",
        14: "new_unique"}
    assert rows[13]["n_corpus_matches"] == 1
    assert rows[13]["best_corpus_jaccard"] == 1.0
    assert rows[10]["n_corpus_matches"] == 1
    assert abs(rows[10]["best_corpus_jaccard"] - 16.0 / 17.0) < 1e-12
    assert rows[14]["n_corpus_matches"] == 0
    assert rows[14]["best_corpus_jaccard"] is None


def test_neardup_incremental_precomputed_sigs_path_identical(spark):
    A = _nd_words("alpha")
    corpus = spark.createDataFrame(
        [(1, A), (2, _nd_words("beta"))], "doc_id long, text string")
    delta = spark.createDataFrame(
        [(10, A + " tail"), (11, _nd_words("gamma"))],
        "doc_id long, text string")
    inline = sorted(map(tuple, DD.neardup_incremental(
        delta, corpus, n=5, threshold=0.8).collect()))
    sigs = DD.minhash_signatures(corpus, n=5, num_perm=64)
    via_index = sorted(map(tuple, DD.neardup_incremental(
        delta, corpus, corpus_sigs=sigs, n=5, threshold=0.8).collect()))
    assert inline == via_index


def test_neardup_incremental_corpus_never_self_paired(spark):
    # two committed docs that are near-dups of EACH OTHER must not leak
    # into the delta report (the corpus is never re-paired against itself)
    A = _nd_words("alpha")
    corpus = spark.createDataFrame(
        [(1, A), (2, A + " tail")], "doc_id long, text string")
    delta = spark.createDataFrame(
        [(10, _nd_words("zeta"))], "doc_id long, text string")
    out = DD.neardup_incremental(delta, corpus, n=5, threshold=0.8).collect()
    assert [(r["doc_id"], r["status"]) for r in out] == [(10, "new_unique")]

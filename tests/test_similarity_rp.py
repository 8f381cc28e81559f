"""Johnson-Lindenstrauss random projection (operators/similarity:
rademacher_planes / random_projection_sql / project_vec / rp_topk —
oracle twin: `rp_projection_topk`).

The hash-oracle proves cross-engine bit-parity of the projection; these
units pin the properties the oracle cannot see: that the sign matrix is
actually a GOOD JL matrix (near-orthogonal rows — the original
multiplicative-hash construction produced row pairs agreeing on 62/64
entries and 2× the ideal distortion), and that distances on the real
corpus are preserved within the JL envelope.
"""

import math
import random

import duckdb
import pytest

from pyspark.sql import functions as F

from felixzh_flink_spark.operators.similarity import (
    project_vec,
    rademacher_planes,
    random_projection,
    random_projection_sql,
    rp_rerank_topk,
    rp_topk,
)

OUT, IN = 16, 64


def test_matrix_is_deterministic_signed_and_near_orthogonal():
    m = rademacher_planes(OUT, IN)
    assert m == rademacher_planes(OUT, IN)
    assert len(m) == OUT and all(len(r) == IN for r in m)
    assert all(x in (1.0, -1.0) for r in m for x in r)
    # near-orthogonality: iid signs give |<r_j, r_k>| ~ sqrt(64)=8;
    # the broken multiplicative-hash matrix had pairs at 60+
    dots = [abs(sum(a * b for a, b in zip(m[j], m[k])))
            for j in range(OUT) for k in range(j + 1, OUT)]
    assert max(dots) <= 32, max(dots)
    # and no near-duplicate/near-negated rows at all
    assert len({tuple(r) for r in m}) == OUT


def test_driver_projection_is_bit_equal_to_sql_projection(spark):
    rnd = random.Random(3)
    vecs = [[rnd.uniform(-1, 1) for _ in range(IN)] for _ in range(5)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                               "vec_id long, embedding array<float>")
    rows = (df.select("vec_id",
                      F.expr(random_projection_sql("embedding", OUT, IN))
                      .alias("p"))
            .collect())
    for r in rows:
        # parquet/DataFrame floats upcast exactly; folds share order
        py = project_vec([float(x) for x in
                          df.filter(F.col("vec_id") == r.vec_id)
                          .head()["embedding"]], OUT)
        assert list(r.p) == py


def test_jl_distortion_envelope_on_real_corpus():
    rows = duckdb.sql(
        "SELECT embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' LIMIT 60").fetchall()
    vecs = [[float(x) for x in r[0]] for r in rows]
    projs = [project_vec(v, OUT) for v in vecs]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    rnd = random.Random(1)
    ratios = []
    for _ in range(300):
        a, b = rnd.sample(range(len(vecs)), 2)
        ratios.append(d2(projs[a], projs[b]) / d2(vecs[a], vecs[b]))
    ratios.sort()
    med = ratios[len(ratios) // 2]
    # JL with k=16: sq-distance ratios concentrate around 1 with
    # stdev ≈ sqrt(2/k) ≈ 0.35; measured quartiles 0.71/0.90/1.18
    assert 0.75 < med < 1.25, med
    assert ratios[0] > 0.1 and ratios[-1] < 4.0, (ratios[0], ratios[-1])
    # ≥80% of pairs within ±60% — loose envelope, generous vs measured
    inside = sum(1 for r in ratios if 0.4 < r < 1.6)
    assert inside / len(ratios) >= 0.8, inside


def test_rp_topk_shape_order_and_self_similarity(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x)
         for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = rp_topk(e, q, k=10).collect()
    assert len(got) == 10
    sims = [r.rp_cosine for r in got]
    assert sims == sorted(sims, reverse=True)
    # the query vector itself projects to itself: cosine exactly-ish 1
    assert got[0].id == 0 and got[0].rp_cosine > 0.999999
    ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert all(r.id in ids for r in got)


def test_rp_rerank_is_exact_rerank_of_rp_candidates(spark):
    """Two-stage contract: the final ranking must equal an independent
    exact-cosine re-rank (python reference) of exactly the stage-1
    candidate set."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x)
         for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cand = [r.id for r in rp_topk(e, q, k=50).collect()]
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in e.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    ref = sorted(((cos(vecs[i], q), i) for i in cand),
                 key=lambda t: (-t[0], t[1]))[:10]
    got = rp_rerank_topk(e, q, k=10, prek=50).collect()
    assert [r.id for r in got] == [i for _, i in ref]
    # exact scores, not projected ones: the self-hit is cosine 1
    assert got[0].id == 0 and got[0].cosine_sim > 0.9999999
    for r, (sim, _) in zip(got, ref):
        assert r.cosine_sim == pytest.approx(sim, abs=1e-12)


def test_random_projection_output_shape(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    row = random_projection(e.limit(3), OUT, IN).head()
    assert len(row["proj"]) == OUT
    # norms shrink ~sqrt(out/in) on average but never explode
    n = math.sqrt(sum(x * x for x in row["proj"]))
    assert 0.0 < n < 100.0


def test_materialized_index_path_is_bit_equal_to_inline(spark, tmp_path):
    """write_rp_index + rp_rerank_topk_from_index must return exactly the
    inline rp_rerank_topk rows — ids, order, AND double-exact scores: the
    stored projection is the same left-fold and parquet round-trips bits,
    so the serving path cannot drift from the proven inline semantics."""
    from felixzh_flink_spark.operators.similarity import (
        rp_rerank_topk_from_index,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x)
         for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "rp_index")
    write_rp_index(e, path, OUT, IN)
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    indexed = [(r.id, r.cosine_sim)
               for r in rp_rerank_topk_from_index(
                   spark, path, q, k=10, prek=50).collect()]
    assert indexed == inline


def test_multi_query_index_path_matches_per_query_inline(spark, tmp_path):
    """The batched index path must return, for EVERY query in the batch,
    exactly the single-query inline rp_rerank_topk rows (ids, order,
    bit-equal scores) — batching may only amortize the scan, never
    change results."""
    from felixzh_flink_spark.operators.similarity import (
        rp_rerank_topk_multi_from_index,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id").isin(0, 1, 2)).collect()}
    path = str(tmp_path / "rp_index")
    write_rp_index(e, path, OUT, IN)
    got = rp_rerank_topk_multi_from_index(
        spark, path, vecs, k=10, prek=50)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.id, r.cosine_sim))
    assert set(by_q) == {0, 1, 2}
    for q, v in vecs.items():
        inline = [(r.id, r.cosine_sim)
                  for r in rp_rerank_topk(e, v, k=10, prek=50).collect()]
        assert by_q[q] == inline, q


def test_delta_append_index_is_bit_equal_to_full_rebuild(spark, tmp_path):
    """Incremental maintenance, new-ids regime: an index built as
    bulk(80%) + append_rp_index(20% delta) must serve bit-identically
    to the inline path over the full table — the delta encode touches
    only the delta, yet the combined layout is indistinguishable from
    a rebuild (projection is a pure function of shape)."""
    from felixzh_flink_spark.operators.similarity import (
        append_rp_index,
        rp_rerank_topk_from_index,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "rp_delta")
    write_rp_index(e.filter(F.col("vec_id") % 5 != 4), path, OUT, IN)
    append_rp_index(e.filter(F.col("vec_id") % 5 == 4), path, OUT, IN)
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_index(
               spark, path, q, k=10, prek=50).collect()]
    assert got == inline
    # layout parity: the appended files hold exactly a rebuild's rows
    full = str(tmp_path / "rp_full")
    write_rp_index(e, full, OUT, IN)
    a = spark.read.parquet(path).select("vec_id", "proj")
    b = spark.read.parquet(full).select("vec_id", "proj")
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0


def test_upsert_index_latest_wins_and_stale_leak_is_detectable(spark,
                                                               tmp_path):
    """Upsert regime: epoch-0 bulk stores stale (reversed) vectors for
    ids ≡ 3 (mod 7); epoch-1 appends their true re-embeddings.
    rp_index_latest must serve the inline full-table result exactly —
    and the NEGATIVE control pins that serving the raw (no latest-wins)
    layout would NOT (i.e. the test could actually fail on leakage)."""
    from felixzh_flink_spark.operators.similarity import (
        append_rp_index,
        rp_index_latest,
        rp_rerank_topk_from_df,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    path = str(tmp_path / "rp_upsert")
    write_rp_index(stale, path, OUT, IN, epoch=0)
    append_rp_index(e.filter(F.col("vec_id") % 7 == 3), path, OUT, IN,
                    epoch=1)
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    latest = rp_index_latest(spark, path)
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_df(
               latest, q, k=10, prek=50).collect()]
    assert got == inline
    # negative control: raw read (stale rows visible, duplicate ids)
    raw = spark.read.parquet(path).drop("ingest_epoch")
    leaked = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk_from_df(
                  raw, q, k=10, prek=50).collect()]
    assert leaked != inline


def test_compact_rp_index_folds_to_one_generation(spark, tmp_path):
    """Compaction folds an epoch-partitioned index's generations into
    ONE (latest-wins applied): the row count returns to one per id,
    serving results are unchanged, rp_index_latest takes the
    window-free single-generation path (no Window in the plan), and —
    because the epoch layout survives — a LATER append keeps working
    and serves correctly."""
    from felixzh_flink_spark.operators.similarity import (
        _index_epochs,
        append_rp_index,
        compact_rp_index,
        rp_index_latest,
        rp_rerank_topk_from_df,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    path = str(tmp_path / "rp_compact")
    write_rp_index(stale, path, OUT, IN, epoch=0)
    append_rp_index(e.filter(F.col("vec_id") % 7 == 3), path, OUT, IN,
                    epoch=1)
    n_ids = e.count()
    assert spark.read.parquet(path).count() > n_ids
    compact_rp_index(spark, path)
    assert _index_epochs(spark, path) == [2]
    assert spark.read.parquet(path).count() == n_ids
    latest = rp_index_latest(spark, path)
    assert "Window" not in latest._jdf.queryExecution().toString()
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_df(
               latest, q, k=10, prek=50).collect()]
    assert got == inline
    # the epoch layout survived compaction: appends keep working
    append_rp_index(e.filter(F.col("vec_id") % 7 == 3), path, OUT, IN,
                    epoch=3)
    again = [(r.id, r.cosine_sim)
             for r in rp_rerank_topk_from_df(
                 rp_index_latest(spark, path), q, k=10, prek=50).collect()]
    assert again == inline


def test_append_rp_index_auto_compacts_and_validates_epochs(spark,
                                                            tmp_path):
    """compact_after wires compaction into the append commit: once the
    live generations reach the threshold the append itself folds them
    to one, so steady-state serving never pays the latest-wins window
    no matter how many upsert batches ran. Stale / replayed epochs are
    rejected against the committed directory listing."""
    import pytest

    from felixzh_flink_spark.operators.similarity import (
        _index_epochs,
        append_rp_index,
        rp_index_latest,
        rp_rerank_topk_from_df,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 < 2, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    path = str(tmp_path / "rp_auto")
    write_rp_index(stale, path, OUT, IN, epoch=0)
    append_rp_index(e.filter(F.col("vec_id") % 7 == 0), path, OUT, IN,
                    epoch=1, compact_after=3)
    assert len(_index_epochs(spark, path)) == 2      # below threshold
    append_rp_index(e.filter(F.col("vec_id") % 7 == 1), path, OUT, IN,
                    epoch=2, compact_after=3)
    assert len(_index_epochs(spark, path)) == 1      # append compacted
    assert spark.read.parquet(path).count() == e.count()
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_df(
               rp_index_latest(spark, path), q, k=10, prek=50).collect()]
    assert got == inline
    # epoch monotonicity: a replayed / stale epoch fails loudly
    with pytest.raises(ValueError, match="not newer"):
        append_rp_index(e.limit(1), path, OUT, IN, epoch=2)


def test_delete_from_rp_index_tombstones_and_resurrection(spark,
                                                          tmp_path):
    """Deletion tombstones: a deleted id vanishes from the served view
    (merge-on-read AND compacted paths), physically disappears at
    compaction, and a later re-insert at a higher epoch resurrects
    it — upsert semantics end-to-end."""
    from felixzh_flink_spark.operators.similarity import (
        delete_from_rp_index,
        append_rp_index,
        compact_rp_index,
        rp_index_latest,
        rp_rerank_topk_from_df,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    inline_full = [(r.id, r.cosine_sim)
                   for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]
    top_ids = [i for i, _ in inline_full[:3]]     # delete served winners
    kept = e.filter(~F.col("vec_id").isin(top_ids))
    inline_kept = [(r.id, r.cosine_sim)
                   for r in rp_rerank_topk(kept, q, k=10,
                                           prek=50).collect()]
    assert inline_kept != inline_full             # deletions must show
    path = str(tmp_path / "rp_tomb")
    write_rp_index(e, path, OUT, IN, epoch=0)
    delete_from_rp_index(
        e.filter(F.col("vec_id").isin(top_ids)).select("vec_id"),
        path, epoch=1)
    served = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk_from_df(
                  rp_index_latest(spark, path), q, k=10,
                  prek=50).collect()]
    assert served == inline_kept                  # merge-on-read path
    compact_rp_index(spark, path)
    assert spark.read.parquet(path).count() == kept.count()  # physical
    served2 = [(r.id, r.cosine_sim)
               for r in rp_rerank_topk_from_df(
                   rp_index_latest(spark, path), q, k=10,
                   prek=50).collect()]
    assert served2 == inline_kept                 # compacted path
    # resurrection: re-insert the deleted ids at a higher epoch
    append_rp_index(e.filter(F.col("vec_id").isin(top_ids)), path,
                    OUT, IN, epoch=5)
    served3 = [(r.id, r.cosine_sim)
               for r in rp_rerank_topk_from_df(
                   rp_index_latest(spark, path), q, k=10,
                   prek=50).collect()]
    assert served3 == inline_full


def test_compact_rp_index_crash_windows_read_correctly(spark, tmp_path):
    """Crash-mid-compaction: BOTH intermediate states the protocol can
    leave behind — (a) the fresh folded generation committed but old
    generations not yet deleted, (b) a partial sweep of the old
    generations — still serve the exact latest view through
    rp_index_latest, and a re-run of compaction converges to the
    single-generation layout."""
    from felixzh_flink_spark.functions.stateio import state_fs
    from felixzh_flink_spark.operators.similarity import (
        _index_epochs,
        append_rp_index,
        compact_rp_index,
        rp_index_latest,
        rp_rerank_topk_from_df,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(e, q, k=10, prek=50).collect()]

    def serve(p):
        return [(r.id, r.cosine_sim)
                for r in rp_rerank_topk_from_df(
                    rp_index_latest(spark, p), q, k=10,
                    prek=50).collect()]

    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    path = str(tmp_path / "rp_crash")
    write_rp_index(stale, path, OUT, IN, epoch=0)
    append_rp_index(e.filter(F.col("vec_id") % 7 == 3), path, OUT, IN,
                    epoch=1)
    # crash state (a): folded generation written, no deletes ran —
    # reproduce step 2 of the protocol by hand
    latest = (rp_index_latest(spark, path)
              .withColumn("ingest_epoch", F.lit(2))
              .localCheckpoint(eager=True))
    latest.write.mode("append").partitionBy("ingest_epoch").parquet(path)
    assert _index_epochs(spark, path) == [0, 1, 2]
    assert serve(path) == inline
    # crash state (b): one superseded generation swept, one left
    fs = state_fs(spark, path)
    fs.delete(fs.join(path, "ingest_epoch=0"))
    assert _index_epochs(spark, path) == [1, 2]
    assert serve(path) == inline
    # recovery: the next compaction converges to one generation
    compact_rp_index(spark, path)
    assert len(_index_epochs(spark, path)) == 1
    assert spark.read.parquet(path).count() == e.count()
    assert serve(path) == inline


def test_rejected_write_commits_nothing(spark, tmp_path):
    """A write whose epoch is not newer than every committed generation
    is rejected BEFORE anything is written: after a delete (epoch 5)
    and a compaction (generation 6), re-inserting the deleted id at
    epoch 4 raises, leaves the listing at [6] and keeps the id out of
    the served view; a stale delete is rejected the same way."""
    import os

    from felixzh_flink_spark.operators.similarity import (
        append_rp_index,
        compact_rp_index,
        delete_from_rp_index,
        rp_index_latest,
        write_rp_index,
    )

    def listing(p):
        return sorted(int(n.split("=")[1]) for n in os.listdir(p)
                      if n.startswith("ingest_epoch="))

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = e.filter(F.col("vec_id") == 1)
    path = str(tmp_path / "rp_reject")
    write_rp_index(e, path, OUT, IN, epoch=0)
    delete_from_rp_index(one.select("vec_id"), path, epoch=5)
    compact_rp_index(spark, path)
    assert listing(path) == [6]
    with pytest.raises(ValueError, match="not newer"):
        append_rp_index(one, path, OUT, IN, epoch=4)
    assert listing(path) == [6]
    served = rp_index_latest(spark, path)
    assert served.filter(F.col("vec_id") == 1).count() == 0
    assert served.count() == e.count() - 1
    with pytest.raises(ValueError, match="not newer"):
        delete_from_rp_index(e.filter(F.col("vec_id") == 2)
                             .select("vec_id"), path, epoch=6)
    assert listing(path) == [6]
    assert rp_index_latest(spark, path).count() == e.count() - 1


def test_append_ivf_index_matches_full_rebuild(spark, tmp_path):
    """IVF face of incremental maintenance: delta rows assigned against
    the COMMITTED centroids and appended into the cell directories give
    a layout row-for-row identical to a full rebuild (cells AND pq
    codes), and the partition-pruned probe returns identical top-k."""
    from felixzh_flink_spark.operators.similarity import (
        append_ivf_index,
        ivf_centroids,
        ivf_topk_from_index,
        pq_train,
        write_ivf_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(e, 16)
    books = pq_train(e, m=8, code_k=16)
    delta = str(tmp_path / "ivf_delta")
    write_ivf_index(e.filter(F.col("vec_id") % 5 != 4), delta, cents,
                    books=books)
    append_ivf_index(e.filter(F.col("vec_id") % 5 == 4), delta, cents,
                     books=books)
    full = str(tmp_path / "ivf_full")
    write_ivf_index(e, full, cents, books=books)
    a = spark.read.parquet(delta).select("vec_id", "ivf_cell", "pq_code")
    b = spark.read.parquet(full).select("vec_id", "ivf_cell", "pq_code")
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    pa = [(r.id, r.cosine_sim)
          for r in ivf_topk_from_index(spark, delta, cents, q,
                                       k=10, n_probe=4).collect()]
    pb = [(r.id, r.cosine_sim)
          for r in ivf_topk_from_index(spark, full, cents, q,
                                       k=10, n_probe=4).collect()]
    assert pa == pb and len(pa) == 10


def test_ivf_tombstones_upserts_and_compaction(spark, tmp_path):
    """IVF deletion/upsert lifecycle: a stale bulk vector is superseded
    by an upsert whose re-embedding lands in a DIFFERENT cell (the
    case per-cell latest-wins cannot handle — the index-wide
    latest-epoch-wins rule can), a deleted id vanishes from the probe,
    compaction applies tombstones physically with the probe unchanged,
    and a re-insert after deletion resurrects."""
    from felixzh_flink_spark.operators.similarity import (
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_assign,
        ivf_centroids,
        ivf_read_alive,
        ivf_topk,
        ivf_topk_from_index,
        upsert_ivf_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(e, 16)

    def probe(p):
        return [(r.id, r.cosine_sim)
                for r in ivf_topk_from_index(spark, p, cents, q, k=10,
                                             n_probe=4).collect()]

    def inline(df):
        return [(r.id, r.cosine_sim)
                for r in ivf_topk(df, q, k=10, n_centroids=16,
                                  n_probe=4, cents=cents).collect()]

    from felixzh_flink_spark.operators.similarity import write_ivf_index
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    path = str(tmp_path / "ivf_tomb")
    write_ivf_index(stale, path, cents)
    # upsert the true re-embeddings; at least one must change cell for
    # the test to exercise the cross-cell case
    fixed = e.filter(F.col("vec_id") % 7 == 3)
    old_cells = {r.vec_id: r.ivf_cell
                 for r in ivf_assign(stale.filter(F.col("vec_id") % 7 == 3),
                                     cents).collect()}
    new_cells = {r.vec_id: r.ivf_cell
                 for r in ivf_assign(fixed, cents).collect()}
    assert any(old_cells[i] != new_cells[i] for i in old_cells), \
        "fixture must move at least one vector across cells"
    upsert_ivf_index(fixed, path, cents, epoch=1)
    assert probe(path) == inline(e)               # stale rows dead
    # delete the current top ids and verify they vanish
    top_ids = [i for i, _ in inline(e)[:3]]
    delete_from_ivf_index(
        e.filter(F.col("vec_id").isin(top_ids)).select("vec_id"),
        path, epoch=2)
    kept = e.filter(~F.col("vec_id").isin(top_ids))
    assert probe(path) == inline(kept)
    # compaction: physical removal, sidecar gone, probe unchanged
    compact_ivf_index(spark, path)
    assert spark.read.parquet(path).count() == kept.count()
    import os
    assert not os.path.exists(path + "/_tombstones")
    assert probe(path) == inline(kept)
    # resurrection: re-insert the deleted ids at a higher epoch
    upsert_ivf_index(e.filter(F.col("vec_id").isin(top_ids)), path,
                     cents, epoch=4)
    assert probe(path) == inline(e)
    assert ivf_read_alive(spark, path).count() == e.count()


def test_compact_ivf_index_crash_windows_read_correctly(spark, tmp_path):
    """IVF twin of the rp crash test: compaction never overwrites the
    index path, so both states a crash can leave behind — (a) the fold
    generation committed with nothing swept, (b) the oldest generation
    swept — probe exactly like inline `ivf_topk` over the live corpus,
    and a re-run of compaction converges to one generation. The
    fixture holds a cross-cell upsert and a delete."""
    from felixzh_flink_spark.functions.stateio import state_fs
    from felixzh_flink_spark.operators.similarity import (
        _index_epochs,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_assign,
        ivf_centroids,
        ivf_read_alive,
        ivf_topk,
        ivf_topk_from_index,
        upsert_ivf_index,
        write_ivf_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(e, 16)

    def probe(p):
        return [(r.id, r.cosine_sim)
                for r in ivf_topk_from_index(spark, p, cents, q, k=10,
                                             n_probe=4).collect()]

    def inline(df):
        return [(r.id, r.cosine_sim)
                for r in ivf_topk(df, q, k=10, n_centroids=16,
                                  n_probe=4, cents=cents).collect()]

    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    fixed = e.filter(F.col("vec_id") % 7 == 3)
    old = {r.vec_id: r.ivf_cell for r in
           ivf_assign(stale.filter(F.col("vec_id") % 7 == 3),
                      cents).collect()}
    new = {r.vec_id: r.ivf_cell for r in ivf_assign(fixed, cents).collect()}
    assert any(old[i] != new[i] for i in old), "needs a cross-cell upsert"
    path = str(tmp_path / "ivf_crash")
    write_ivf_index(stale, path, cents)
    upsert_ivf_index(fixed, path, cents, epoch=1)
    top_ids = [i for i, _ in inline(e)[:3]]
    delete_from_ivf_index(
        e.filter(F.col("vec_id").isin(top_ids)).select("vec_id"),
        path, epoch=2)
    kept = e.filter(~F.col("vec_id").isin(top_ids))
    want = inline(kept)
    assert probe(path) == want
    # crash state (a): fold generation committed, nothing swept —
    # step 2 of the protocol by hand
    fold = (ivf_read_alive(spark, path)
            .withColumn("ingest_epoch", F.lit(3))
            .localCheckpoint(eager=True))
    fold.write.mode("append").partitionBy("ingest_epoch", "ivf_cell") \
        .parquet(path)
    assert _index_epochs(spark, path) == [0, 1, 2, 3]
    assert probe(path) == want
    # crash state (b): the oldest generation swept, the rest left
    fs = state_fs(spark, path)
    fs.delete(fs.join(path, "ingest_epoch=0"))
    assert _index_epochs(spark, path) == [1, 2, 3]
    assert probe(path) == want
    # recovery: the next compaction converges to one generation
    compact_ivf_index(spark, path)
    assert _index_epochs(spark, path) == [4]
    assert spark.read.parquet(path).count() == kept.count()
    assert probe(path) == want


#: parameter names and defaults of the public maintained-index API, as
#: a literal table (a bare name has no default)
_LIFECYCLE_API = {
    "write_rp_index": ["df", "path", ("out_dim", 16), ("in_dim", 64),
                       ("id_col", "vec_id"), ("vec_col", "embedding"),
                       ("epoch", None)],
    "append_rp_index": ["df", "path", ("out_dim", 16), ("in_dim", 64),
                        ("id_col", "vec_id"), ("vec_col", "embedding"),
                        ("epoch", None), ("compact_after", 4)],
    "delete_from_rp_index": ["ids_df", "path", "epoch",
                             ("id_col", "vec_id"),
                             ("vec_col", "embedding")],
    "compact_rp_index": ["spark", "path", ("id_col", "vec_id")],
    "rp_index_latest": ["spark", "path", ("id_col", "vec_id")],
    "rp_index_stream_sink": ["state_dir", ("out_dim", 16), ("in_dim", 64),
                             ("id_col", "vec_id"), ("vec_col", "embedding"),
                             ("n_buckets", 8)],
    "rp_index_stream_read": ["spark", "state_dir", ("id_col", "vec_id"),
                             ("vec_col", "embedding")],
    "write_ivf_index": ["df", "path", "cents", ("vec_col", "embedding"),
                        ("books", None)],
    "append_ivf_index": ["df", "path", "cents", ("vec_col", "embedding"),
                         ("books", None)],
    "upsert_ivf_index": ["df", "path", "cents", "epoch",
                         ("vec_col", "embedding"), ("id_col", "vec_id"),
                         ("books", None)],
    "delete_from_ivf_index": ["ids_df", "path", "epoch",
                              ("id_col", "vec_id")],
    "compact_ivf_index": ["spark", "path", ("id_col", "vec_id")],
    "ivf_read_alive": ["spark", "path", ("id_col", "vec_id")],
    "ivf_topk_from_index": ["spark", "path", "cents", "query_vec",
                            ("k", 10), ("n_probe", 4), ("id_col", "vec_id"),
                            ("vec_col", "embedding")],
    "ivf_index_stream_sink": ["state_dir", "cents", ("id_col", "vec_id"),
                              ("vec_col", "embedding"), ("n_buckets", 8),
                              ("books", None)],
    "ivf_index_stream_read": ["spark", "state_dir", ("id_col", "vec_id"),
                              ("vec_col", "embedding")],
    "materialize_ivf_index": ["spark", "state_dir", "path",
                              ("id_col", "vec_id"),
                              ("vec_col", "embedding")],
}


def test_lifecycle_public_api_is_pinned():
    """The 17 public maintained-index names keep their parameter names,
    order and defaults: refactors behind them may add no option."""
    import inspect

    from felixzh_flink_spark.operators import similarity

    def shape(fn):
        return [p.name if p.default is inspect.Parameter.empty
                else (p.name, p.default)
                for p in inspect.signature(fn).parameters.values()]

    got = {n: shape(getattr(similarity, n)) for n in _LIFECYCLE_API}
    assert got == _LIFECYCLE_API


def test_rrf_fuse_semantics(spark):
    """RRF fusion laws on hand-built rankers: a doc in both lists sums
    both reciprocal ranks, one-sided docs contribute a single term with
    0.0 for the missing side, ranks come from (score desc, id asc), and
    ties in the fused score fall to the id."""
    from felixzh_flink_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(10, 3.0), (20, 2.0), (30, 1.0)], "doc_id long, bm25 double")
    b = spark.createDataFrame(
        [(20, 0.9), (40, 0.8), (10, 0.7)], "id long, cosine_sim double")
    got = {r.id: r.rrf for r in
           rrf_fuse(a, b, "bm25", "cosine_sim", "doc_id", "id",
                    k=10).collect()}
    assert got == {
        10: 1.0 / 61 + 1.0 / 63,     # rank 1 lexical, rank 3 dense
        20: 1.0 / 62 + 1.0 / 61,     # rank 2 lexical, rank 1 dense
        30: 1.0 / 63 + 0.0,          # lexical only
        40: 0.0 + 1.0 / 62,          # dense only
    }
    # equal scores tie-break on id DETERMINISTICALLY: row_number gives
    # the lower id the better rank in BOTH rankers, so the fused order
    # is fixed — never engine- or partitioning-dependent
    t1 = spark.createDataFrame([(2, 1.0), (1, 1.0)],
                               "doc_id long, bm25 double")
    t2 = spark.createDataFrame([(2, 1.0), (1, 1.0)],
                               "id long, cosine_sim double")
    rows = rrf_fuse(t1, t2, "bm25", "cosine_sim",
                    "doc_id", "id", k=2).collect()
    assert [(r.id, r.rrf) for r in rows] == [(1, 2.0 / 61), (2, 2.0 / 62)]


def test_prefiltered_rerank_semantics(spark, tmp_path):
    """Filtered vector search: every returned id satisfies the filter,
    the result equals the inline two-stage run over the pre-filtered
    corpus, and the NEGATIVE control shows post-filtering a global
    top-k returns different rows — the recall bug pre-filter semantics
    exist to prevent."""
    from felixzh_flink_spark.operators.similarity import (
        rp_rerank_topk,
        rp_rerank_topk_prefiltered,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "rp_idx")
    write_rp_index(e, path, OUT, IN)
    idx = spark.read.parquet(path)
    allowed = e.filter(F.col("vec_id") % 4 == 1) \
        .select("vec_id")                      # 25%, excludes id 0
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_prefiltered(
               idx, allowed, q, k=10, prek=20).collect()]
    assert got and all(i % 4 == 1 for i, _ in got)
    inline = [(r.id, r.cosine_sim)
              for r in rp_rerank_topk(
                  e.filter(F.col("vec_id") % 4 == 1), q,
                  k=10, prek=20).collect()]
    assert got == inline
    # negative control: post-filtering the GLOBAL top-k is different —
    # with a selective filter the global candidate list barely overlaps
    # the allowed set, so the post-filter result is a strict subset of
    # fewer/different rows
    post = [(r.id, r.cosine_sim)
            for r in rp_rerank_topk(e, q, k=10, prek=20).collect()
            if r.id % 4 == 1]
    assert post != got


def test_decontaminate_semantic_matches_bruteforce(spark):
    """Semantic decontamination: survivors are exactly the corpus rows
    whose max cosine against the benchmark set is below threshold —
    replayed brute-force in Python with the same left-fold element
    order — benchmark self-matches (cosine 1.0) always drop, and the
    plan is a zero-shuffle, join-free single corpus pass."""
    from felixzh_flink_spark.operators.similarity import (
        decontaminate_semantic,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 23 == 7)
    surv = decontaminate_semantic(e, bench, threshold=0.9)
    got = sorted(r.vec_id for r in surv.select("vec_id").collect())

    rows = {r.vec_id: [float(x) for x in r.embedding]
            for r in e.collect()}
    bvecs = [rows[i] for i in sorted(rows) if i % 23 == 7]

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return dot / (na ** 0.5 * nb ** 0.5)

    want = sorted(i for i, v in rows.items()
                  if all(cos(v, bv) < 0.9 for bv in bvecs))
    assert got == want
    assert all(i % 23 != 7 for i in got)        # self-matches dropped
    assert len(got) < len(rows)                 # something was dropped
    # scale shape: one corpus pass with the bench riding as literal
    # vectors in the filter condition — no join of any kind, no shuffle
    # (r11: the BroadcastNestedLoopJoin form paid interpreted per-pair
    # expression evaluation through the join machinery)
    plan = surv._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan


def _multi_generation_rp_index(spark, path):
    """(embeddings, live corpus, path): an rp index left UNCOMPACTED over
    three generations — epoch 0 stores stale (reversed) vectors for ids
    ≡ 3 (mod 7), epoch 1 re-embeds exactly those ids, epoch 2 deletes
    id 0."""
    from felixzh_flink_spark.operators.similarity import (
        append_rp_index,
        delete_from_rp_index,
        write_rp_index,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    write_rp_index(stale, path, OUT, IN, epoch=0)
    append_rp_index(e.filter(F.col("vec_id") % 7 == 3), path, OUT, IN,
                    epoch=1, compact_after=100)
    delete_from_rp_index(e.filter(F.col("vec_id") == 0).select("vec_id"),
                         path, epoch=2)
    return e, e.filter(F.col("vec_id") != 0), path


def test_index_reads_serve_only_alive_rows(spark, tmp_path):
    """Both path-based serving reads go through the alive rule: over an
    upserted, deleted and uncompacted index they return exactly the
    inline two-stage result over the live corpus — ids, order and
    double-exact scores — never the deleted id, a superseded vector or
    an id twice."""
    from felixzh_flink_spark.operators.similarity import (
        _index_epochs,
        rp_rerank_topk_from_index,
        rp_rerank_topk_multi_from_index,
    )
    e, live, path = _multi_generation_rp_index(spark,
                                               str(tmp_path / "rp"))
    assert _index_epochs(spark, path) == [0, 1, 2]
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in e.filter(F.col("vec_id") < 3).collect()}
    inline = {q: [(r.id, r.cosine_sim)
                  for r in rp_rerank_topk(live, v, k=10, prek=50).collect()]
              for q, v in vecs.items()}
    got = [(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_index(
               spark, path, vecs[0], k=10, prek=50).collect()]
    assert got == inline[0]
    multi = rp_rerank_topk_multi_from_index(spark, path, vecs, k=10,
                                            prek=50).collect()
    for q in vecs:
        rows = sorted((r for r in multi if r.query_id == q),
                      key=lambda r: (-r.cosine_sim, r.id))
        assert [(r.id, r.cosine_sim) for r in rows] == inline[q]


def test_zero_and_null_vectors_score_null_and_rank_last(spark):
    """A zero-norm and a NULL vector score NULL in every exact cosine
    kernel (no DIVIDE_BY_ZERO under ANSI) and rank after every scored
    row; a zero query scores every row NULL."""
    from felixzh_flink_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_multi,
        rp_rerank_topk_from_df,
    )
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(IN)])
            for i in range(1, 6)]
    df = spark.createDataFrame(rows + [(0, [0.0] * IN), (9, None)],
                               "vec_id long, embedding array<float>")
    idx = random_projection(df, OUT, IN).join(df, "vec_id")
    q = rows[0][1]

    def check(ranked):
        assert [r[0] for r in ranked[-2:]] == [0, 9]
        assert [r[1] for r in ranked[-2:]] == [None, None]
        assert all(r[1] is not None for r in ranked[:-2])

    check([(r.id, r.cosine_sim)
           for r in cosine_topk_bruteforce(df, q, k=7).collect()])
    check([(r.id, r.cosine_sim)
           for r in rp_rerank_topk_from_df(idx, q, k=7, prek=7).collect()])
    multi = cosine_topk_multi(df, {1: q, 2: [0.0] * IN}, k=7).collect()
    check(sorted(((r.id, r.cosine_sim) for r in multi if r.query_id == 1),
                 key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0])))
    zero_q = sorted((r.id, r.cosine_sim) for r in multi if r.query_id == 2)
    assert zero_q == [(i, None) for i in (0, 1, 2, 3, 4, 5, 9)]
    zero = cosine_topk_bruteforce(df, [0.0] * IN, k=7).collect()
    assert [(r.id, r.cosine_sim) for r in zero] == zero_q

"""Phase-level wall breakdown of semantic_dedup_pq_checks at sf0.1.

Times each apparatus stage separately (corpus checkpoint, ivf init,
each Lloyd pass, pq init, each pq iteration, the final force) so the
r12 optimization targets the real cost, not the assumed one.

Usage: python tools/profile_pq_checks.py [sf_dir]
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from felixzh_flink_spark import queries as Q  # noqa: E402
from felixzh_flink_spark.operators import similarity as SIM  # noqa: E402
from felixzh_flink_spark.session import get_spark  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark("profile_pq_checks")
spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

T0 = time.perf_counter()
_last = [T0]


def mark(label):
    now = time.perf_counter()
    print(f"{label:36s} {now - _last[0]:7.3f} s  (cum {now - T0:7.3f})")
    _last[0] = now


for rep in range(2):
    print(f"--- rep {rep} ---")
    _last[0] = time.perf_counter()
    e = Q._t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.expr("cast(transform(embedding, (x, i) -> cast(x as double)"
               " + (pmod(xxhash64(vec_id, i), 7) - 3) * 0.002)"
               " as array<float>)").alias("embedding"))
    corpus = e.unionByName(planted).localCheckpoint(eager=True)
    mark("corpus checkpoint")
    k = Q._semantic_k(Q._table_rows(spark, sf_dir, "embeddings"))
    init = SIM.ivf_centroids(corpus, max(k, 32))
    mark(f"shared init (k={k})")
    cents = init[:k]
    for it in range(2):
        cents = SIM.ivf_refine_centroids(corpus, cents, iterations=1)
        mark(f"lloyd pass {it}")
    books = SIM.pq_train(corpus, m=16, code_k=32, dim=64, train_iter=2,
                         init_vecs=init)
    mark("pq_train (2 iters)")
    assigned = SIM.ivf_assign(corpus, cents).localCheckpoint(eager=True)
    mark("assign checkpoint")
    exact = SIM.semantic_dedup(assigned, threshold=0.5, cents=cents)
    mark("semantic_dedup build (lazy)")
    pq = SIM.semantic_dedup_pq(assigned, threshold=0.5, cents=cents,
                               books=books, margin=0.15)
    mark("semantic_dedup_pq build (lazy)")
    j = (pq.select("id", F.col("keep").alias("pq_keep"))
         .join(exact.select("id", F.col("keep").alias("ex_keep")),
               "id", "full"))
    planted_row = F.col("id") >= 1_000_000
    agg = j.agg(
        F.count("*").alias("_n_out"),
        F.sum(F.when(F.col("pq_keep").isNull()
                     | F.col("ex_keep").isNull(), 1).otherwise(0))
        .alias("_dangling"),
        F.coalesce(F.min(F.when(planted_row,
                                F.col("pq_keep") == F.col("ex_keep"))),
                   F.lit(False)).alias("planted_parity"),
        F.avg(F.when(planted_row,
                     (~F.col("ex_keep")).cast("double")))
        .alias("_planted_found_rate"),
        F.coalesce(F.min(F.when(~F.col("pq_keep"), ~F.col("ex_keep"))),
                   F.lit(True)).alias("dups_sound"),
        F.sum(F.when(~F.col("pq_keep") & ~F.col("ex_keep"), 1)
              .otherwise(0)).alias("_both_dup"),
        F.sum(F.when(~F.col("ex_keep"), 1).otherwise(0)).alias("_ex_dup"),
    )
    total = corpus.agg(F.count("*").alias("_n_total"))
    out = agg.crossJoin(total).select(
        ((F.col("_n_out") == F.col("_n_total"))
         & (F.col("_dangling") == 0)).alias("rows_complete"),
        "planted_parity",
        (F.coalesce(F.col("_planted_found_rate"), F.lit(0.0)) >= 0.9)
        .alias("planted_found_floor"),
        "dups_sound",
        ((F.col("_ex_dup") == 0)
         | (F.col("_both_dup") >= 0.8 * F.col("_ex_dup")))
        .alias("recall_ok"))
    mark("final plan build (lazy)")
    out.write.format("noop").mode("overwrite").save()
    mark("final force")
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

spark.stop()

"""Generate PLANS.md: the formatted physical plan of each headline query at
sf0.1, with a one-line summary of its scale-relevant properties (shuffles,
broadcasts, pushdown, Python stages). Regenerate after plan-affecting
changes: python tools/gen_plans.py

Round mode dumps `.explain("formatted")` of chosen queries, as built by
the engine checkout at REPO, to plans/<ROUND>/<query>_<TAG>.txt — run
once on a copy of the pre-round code with --tag before and once on this
checkout with --tag after:

    python tools/gen_plans.py --round r13 --repo /tmp/before --tag before q1 q2
    python tools/gen_plans.py --round r13 --tag after q1 q2

Round-mode plans use a bench.py-shaped session (local[session.DEFAULT_CPUS],
data from $SPARK_GRAFT_SF_DIR, default sf0.1).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.1"

#: non-headline queries whose PLANS are themselves the evidence: Catalyst
#: subquery decorrelation (q2/q21 run through the SQL path), scalar-subquery
#: broadcasts, and the scale-safe global-rank rewrite.
EXTRA = [
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_part_shippers",
    "q21_waiting_supplier",
    "q22_global_sales_opportunity",
    "acctbal_quartiles",
    "quantized_embedding_checksums",
    "events_rollup_cascade",
    "pack_manifest",
    # the ITER bench lane (round-8 verdict item 2): iterative/composed
    # kernels whose wall regressions were previously invisible between
    # manual SCALE.md runs — the recorded plan is the FINAL round's
    # (earlier rounds are localCheckpoint-truncated), which is exactly
    # the per-round shape that repeats
    "pagerank_scores",
    "bpe_learned_merges",
    "crawl_to_corpus",
    "dedup_components_star",
    "semantic_dedup_pq_checks",
    "crawl_rank_weighted",
    "lr_quality_weights",
    "leakage_safe_split_docs",
]


#: physical node classes rolled into the summary line
_PY_NODES = ("ArrowEvalPythonExec", "FlatMapGroupsInPandasExec",
             "MapInPandasExec", "BatchEvalPythonExec",
             "FlatMapGroupsInPandasWithStateExec")

#: queries whose EAGER CONSTRUCTION runs Arrow (Python) kernels before
#: the final plan is checkpoint-truncated (VERDICT r10 item 5): the
#: final plan's python_stages=0 is true of the SERVED plan but blind to
#: construction, so the summary line discloses the construction-time
#: Arrow stages explicitly. Counts come from the query fixtures
#: themselves (queries.py): each builds its hash relation through one
#: pandas_udf synthesizer + one mapInPandas decode kernel, then
#: localCheckpoints.
CONSTRUCTION_ARROW = {
    "image_ahash_neardup": 2,       # PNG encode UDF + decode mapInPandas
    "audio_fingerprint_neardup": 2,  # WAV encode UDF + decode mapInPandas
    "image_ahash_neardup_grid8": 2,       # production-grid twins
    "audio_fingerprint_neardup_w64": 2,
    # shard synthesize UDF + pair-walk mapInPandas run at construction;
    # the pixel-decode kernel stays in the FINAL plan (python_stages=1)
    "webdataset_pair_dedup": 2,
}


def _count_nodes(root) -> dict[str, int]:
    """Count physical operators by walking the ACTUAL plan tree once,
    deduplicated by plan-node id. `toString()` substring counting
    (the r1–r9 form) re-prints every adaptive subtree's Final+Initial
    plans recursively — for eager-construction queries like
    crawl_to_corpus that inflated a ~dozen-exchange plan to
    shuffles=3501 (VERDICT r9 item 3 — the summary line was noise).
    Adaptive nodes descend into their CURRENT (final where executed)
    physical plan only; materialized query stages descend into the
    plan they wrap so their exchanges are still counted; reused
    exchanges/subqueries dedupe by node id."""
    counts: dict[str, int] = {}
    seen: set[int] = set()

    def walk(node) -> None:
        if node.id() in seen:
            return
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "ShuffleExchangeExec":
            part = node.outputPartitioning().getClass().getSimpleName()
            counts[f"shuffle:{part}"] = counts.get(f"shuffle:{part}", 0) + 1
        else:
            counts[cls] = counts.get(cls, 0) + 1
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(root)
    return counts


def dump_round(round_name: str, repo: str, tag: str,
               names: list[str]) -> None:
    """Round mode: the queries come from REPO's `__spark_entry__` (its
    package shadows this checkout's, so a before-copy plans its own
    code); each plan is written under this checkout's plans/<round>/."""
    import importlib.util

    from pyspark.sql import SparkSession

    sys.path.insert(0, repo)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from felixzh_flink_spark.session import DEFAULT_CPUS  # REPO's package

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             # match get_spark's driver sizing: PQ-family plan construction
             # (literal codebook trees) OOMs the default 1g driver heap
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .appName(f"plans-{round_name}-{tag}").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = ROOT / "plans" / round_name
    out_dir.mkdir(parents=True, exist_ok=True)
    qs = mod.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
            print(f"ok {name}")
        except Exception as e:  # noqa: BLE001 - record and continue
            print(f"FAIL {name}: {e}")
    spark.stop()


def main() -> None:
    sys.path.insert(0, str(ROOT))
    from bench import HEADLINE
    from felixzh_flink_spark.queries import PROBES, QUERIES
    from felixzh_flink_spark.session import get_spark

    runnable = {**QUERIES, **PROBES}
    spark = get_spark("plans")
    out = [
        "# PLANS — physical plans of the headline queries (sf0.1)\n",
        "Generated by `tools/gen_plans.py`. Summary line counts: hash",
        "exchanges (shuffles), broadcast joins,",
        "Arrow/Python stages — counted on the final plan TREE (one",
        "count per node id; adaptive subtrees descend into the final",
        "plan only). Full `explain(formatted)` follows each.\n",
    ]
    sc = spark.sparkContext
    for name in HEADLINE + EXTRA:
        # jobs fired while BUILDING the DataFrame (eager localCheckpoint
        # / collect fixtures) — disclosed so a truncated final plan
        # can't read as "nothing ran before this"
        group = f"plans-construct-{name}"
        sc.setJobGroup(group, f"construction of {name}")
        df = runnable[name](spark, SF_DIR)
        sc.setJobGroup("plans-idle", "idle")
        constr_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        nodes = _count_nodes(df._jdf.queryExecution().executedPlan())
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        formatted = buf.getvalue()
        pushed = any(
            l.strip().startswith("PushedFilters: [") and l.strip() != "PushedFilters: []"
            for l in formatted.splitlines())
        n_python = sum(nodes.get(c, 0) for c in _PY_NODES)
        summary = (
            f"shuffles={nodes.get('shuffle:HashPartitioning', 0)} "
            f"broadcasts={nodes.get('BroadcastHashJoinExec', 0)} "
            f"python_stages={n_python} "
            f"pushed_filters={'yes' if pushed else 'no'}"
        )
        if constr_jobs:
            summary += f" construction_jobs={constr_jobs}"
        if name in CONSTRUCTION_ARROW:
            summary += (f" construction_python_stages="
                        f"{CONSTRUCTION_ARROW[name]}")
        out.append(f"\n## {name}\n\n`{summary}`\n\n```\n{formatted}```\n")
    Path("PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE) + len(EXTRA)} queries)")
    spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", help="dump QUERIES to plans/<ROUND>/")
    ap.add_argument("--repo", default=str(ROOT),
                    help="engine checkout that builds the plans")
    ap.add_argument("--tag", default="after", help="file-name suffix")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.round:
        dump_round(args.round, args.repo, args.tag, args.queries)
    else:
        main()

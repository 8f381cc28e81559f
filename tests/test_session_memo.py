"""The per-session memo of ingest artifacts (`catalog.session_memo`), the
per-process artifact root (`catalog.artifact_dir`), and the lineitem
row-count switch between exact and sketch percentiles that replaced
parsing the data directory's name."""

import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

from felixzh_flink_spark import catalog as C

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_child(code: str, timeout: int) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.run([sys.executable, "-c", textwrap.dedent(code)],
                          cwd=REPO, env=env, capture_output=True, text=True,
                          timeout=timeout)


def test_session_memo_builds_once_per_context(monkeypatch):
    """A second call does not rebuild; default and explicit arguments
    share one entry; a new context rebuilds and drops every entry built
    under the old one. Stand-in sessions: only `sparkContext` is read."""
    monkeypatch.setattr(C, "_memo", {})
    monkeypatch.setattr(C, "_memo_ctx", None)
    builds = []

    @C.session_memo
    def artifact(spark, sf_dir, k: int = 16):
        builds.append((sf_dir, k))
        return object()

    old = SimpleNamespace(sparkContext=object())
    a = artifact(old, "/d")
    assert artifact(old, "/d") is a
    assert artifact(old, "/d", 16) is a and artifact(old, "/d", k=16) is a
    assert builds == [("/d", 16)]
    assert artifact(old, "/d", 8) is not a
    assert artifact(old, "/e") is not a
    assert builds == [("/d", 16), ("/d", 8), ("/e", 16)]
    assert len(C._memo) == 3

    new = SimpleNamespace(sparkContext=object())
    b = artifact(new, "/d")
    assert b is not a and builds[-1] == ("/d", 16) and len(builds) == 4
    assert list(C._memo.values()) == [b]
    assert artifact(new, "/d", k=16) is b and len(builds) == 4


def test_envelope_builds_once_per_session(spark, sf_dir, monkeypatch):
    """Every envelope family is one memo entry per session, so building
    a decode query again reuses the materialized topic stand-in instead
    of re-synthesizing and re-writing it. The builder each query passes
    is part of the key: it must be the same object on every build."""
    import felixzh_flink_spark.queries as Q

    builds = []
    canal = Q._orders_canal_envelopes

    def counting(spark, sf_dir, keep_key=False):
        builds.append(keep_key)
        return canal(spark, sf_dir, keep_key)

    monkeypatch.setattr(Q, "_orders_canal_envelopes", counting)

    def entries():
        return [k for k in C._memo
                if k[0] is Q._materialized_envelopes.__wrapped__
                and k[1] == sf_dir and k[2][0] == "canal_keyed"]

    Q.QUERIES["canal_quarantine_counts"](spark, sf_dir)
    Q.QUERIES["canal_quarantine_counts"](spark, sf_dir)
    assert len(entries()) == 1
    assert builds in ([], [True])


def test_profiling_queries_survive_a_session_restart(sf_dir):
    """The percentile fences and PSI edges are lazy frames bound to the
    session that built them. Run both queries, stop the session, start a
    new one in the same process and run them again: the memo must
    rebuild under the new context, not hand back frames of the stopped
    one, and both runs must agree. Own process and session, so the
    suite's session fixture is never stopped."""
    r = _run_child(f"""
        from felixzh_flink_spark.queries import QUERIES
        from felixzh_flink_spark.session import get_spark

        def run():
            spark = get_spark("memo-restart", cpus=2)
            out = [sorted(tuple(r) for r in QUERIES[n](spark, {sf_dir!r})
                          .collect())
                   for n in ("winsorized_price_stats", "psi_price_drift")]
            spark.stop()
            return out

        first = run()
        second = run()
        assert first == second, (first, second)
        assert all(first), first
        print("RESTART-OK")
        """, timeout=600)
    assert r.returncode == 0 and "RESTART-OK" in r.stdout, r.stderr[-3000:]


def test_artifact_root_is_removed_at_exit():
    """Artifact directories share one per-process root, made on first use
    and removed by the interpreter's exit hook — no Spark involved."""
    r = _run_child("""
        import os
        from pyspark import SparkContext
        from felixzh_flink_spark import catalog
        a = catalog.artifact_dir("probe_")
        b = catalog.artifact_dir("probe_")
        open(os.path.join(a, "part-0.parquet"), "w").write("x")
        assert a != b and os.listdir(b) == []
        root = catalog._artifact_root
        assert os.path.dirname(a) == os.path.dirname(b) == root
        assert SparkContext._active_spark_context is None
        print("ROOT", root)
        """, timeout=120)
    assert r.returncode == 0, r.stderr[-3000:]
    root = r.stdout.split("ROOT ", 1)[1].strip()
    assert os.path.basename(root).startswith("spark_graft_")
    assert not os.path.exists(root)


def _plans(spark, sf_dir):
    from felixzh_flink_spark.queries import QUERIES
    return [QUERIES[n](spark, sf_dir)._jdf.queryExecution()
            .optimizedPlan().toString()
            for n in ("winsorized_price_stats", "psi_price_drift")]


def test_percentiles_are_exact_below_6m_lineitem_rows(spark, sf_dir):
    """Generated data (6k lineitem rows here) takes the exact branch,
    which the DuckDB oracles pin bit-for-bit."""
    import duckdb

    import felixzh_flink_spark.queries as Q

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/lineitem.parquet'").fetchone()[0]
    assert Q._table_rows(spark, sf_dir, "lineitem") == n < 6_000_000
    assert not Q._approx_percentiles(spark, sf_dir)
    for plan in _plans(spark, sf_dir):
        assert "approx_percentile" not in plan


def test_percentiles_switch_to_sketch_at_6m_lineitem_rows(spark, sf_dir,
                                                          tmp_path):
    """At 6M lineitem rows (sf 1) both profiling queries take the
    mergeable sketch. The row count is seeded into the memo for a data
    directory of its own, so no other test's entries are touched."""
    import felixzh_flink_spark.queries as Q

    big = tmp_path / "warehouse"
    big.mkdir()
    (big / "lineitem.parquet").symlink_to(f"{sf_dir}/lineitem.parquet")
    Q._t(spark, str(big), "lineitem")        # the memo now runs on `spark`
    C._memo[(Q._table_rows.__wrapped__, str(big), ("lineitem",))] = 6_000_000
    assert Q._approx_percentiles(spark, str(big))
    for plan in _plans(spark, str(big)):
        assert "approx_percentile" in plan

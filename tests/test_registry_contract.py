"""Registry-contract invariants (VERDICT-r5 item 7): the driver-facing
query registry's structural guarantees, pinned as tests so a refactor
can't silently weaken them. The module-level asserts in queries.py fire
on import; these tests make the contract explicit and reviewable.
"""

from felixzh_flink_spark.queries import (_DRIVER_ORDER, _PROBE_TWINS,
                                         ORACLES, PROBES, QUERIES)


def test_driver_order_covers_registry_exactly():
    assert list(QUERIES) == _DRIVER_ORDER
    assert len(set(_DRIVER_ORDER)) == len(_DRIVER_ORDER)


def test_every_probe_keeps_its_assertion_twin():
    """Each rows-only probe (approximate / hash-seed-specific — no
    DuckDB oracle can bit-match it) lives OUTSIDE the driver registry
    (VERDICT r9 item 1) and must keep its deterministic
    assertion-oracle twin registered; deleting a twin would silently
    weaken the probe's coverage story."""
    assert set(_PROBE_TWINS) == set(PROBES)
    for probe, twin in _PROBE_TWINS.items():
        assert probe not in QUERIES and probe not in ORACLES, probe
        assert twin in QUERIES and twin in ORACLES, (probe, twin)


def test_every_registry_query_is_oracle_backed():
    """No driver-window slot can be structurally uncheckable: every
    QUERIES entry has a DuckDB oracle (hard replay or assertion form).
    Rows-only demos belong in PROBES."""
    assert set(QUERIES) <= set(ORACLES)


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_corpus_size_switches_are_metadata_only(sf_dir, monkeypatch):
    """The corpus-scale switches (`_table_rows`) must read parquet
    FOOTER metadata, never run a Spark job (round-7 verdict item 5: a
    cold session on a 100-TB table must not pay a scan-shaped count()
    before its first query). Passing spark=None pins that structurally
    — any fallback to count() would crash. The memo is swapped for an
    empty one, so no entry answers and the session's entries survive."""
    import felixzh_flink_spark.catalog as C
    import felixzh_flink_spark.queries as Q

    monkeypatch.setattr(C, "_memo", {})
    monkeypatch.setattr(C, "_memo_ctx", None)

    import duckdb
    want_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    want_emb = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'").fetchone()[0]
    assert Q._table_rows(None, sf_dir, "documents") == want_docs
    assert Q._table_rows(None, sf_dir, "embeddings") == want_emb


def test_footer_rows_handles_directories(tmp_path):
    """Directory-of-part-files tables (the real warehouse layout) sum
    across footers; non-parquet paths return None (count() fallback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from felixzh_flink_spark.queries import _parquet_footer_rows

    d = tmp_path / "tbl.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}), d / "part-1.parquet")
    (d / "_SUCCESS").write_text("")
    assert _parquet_footer_rows(str(d)) == 5
    assert _parquet_footer_rows(str(tmp_path / "missing.parquet")) is None

"""Order-insensitive result hashes and the stored DuckDB reference.

`result_hash` canonicalizes a result the way the repo's correctness sweep
compares Spark with DuckDB: columns sorted by name, every cell rendered
with `str` (datetimes as ISO text, bytes as hex), rows sorted. Two results
hash equal exactly when that comparison calls them equal.

Rebuild the stored hashes (needs duckdb) after changing the query list or
the table generator:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
HASH_FILE = os.path.join(HERE, "oracle_hashes.json")


def _cell(v) -> str:
    if isinstance(v, float):
        return str(v)
    if hasattr(v, "timestamp"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    head = "\x1f".join(columns[i].lower() for i in order)
    body = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(head.encode())
    for line in body:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    from felixzh_flink_spark.queries import ORACLES
    from tables import TABLES, write_tables
    from workload import BATCH_QUERIES, BATCH_SCALE, sf_dir_name

    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, sf_dir_name())
        write_tables(data, BATCH_SCALE)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        hashes = {}
        for name in BATCH_QUERIES:
            rel = con.sql(ORACLES[name])
            hashes[name] = result_hash(rel.columns, rel.fetchall())
    with open(HASH_FILE, "w") as f:
        json.dump({"scale": BATCH_SCALE, "hashes": hashes}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()

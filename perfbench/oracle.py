"""DuckDB oracle digests for registry rows.

Usage: python3 perfbench/oracle.py <table-dir> <row> [<row> ...]

Evaluates each row's ``__spark_entry__.oracle_sql()`` query over the
parquet tables in ``<table-dir>`` and prints one JSON object mapping row
name to the digest of its canonical result (``checks.frame_digest`` over
the canonicalisation of ``tools/check_oracle.py``).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_canon():
    """``tools/check_oracle.py``'s canonicalisation, loaded by path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def digests(table_dir: str, rows: list[str]) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry
    from checks import frame_digest

    sql = entry.oracle_sql()
    canon = load_canon()
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return {n: frame_digest(con.sql(sql[n]).df(), canon) for n in rows}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(digests(sys.argv[1], sys.argv[2:])))

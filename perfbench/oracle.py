"""Output check: every registry key against its DuckDB oracle.

Results are compared in the canonical form of the repository's parity tests
(``tests.parity.canon_rows``: columns sorted by name, cells mapped to tagged
tuples, rows sorted), reduced to a SHA-256 digest so a run can check every
pass of every key without keeping the oracle rows around. A key fails by
exception or by digest mismatch, never by anything it logs.
"""
from __future__ import annotations

import hashlib
import os

import duckdb

from industry_big_data_time_sequence_process_spark.sources.io import TABLES
from tests.parity import canon_rows


def digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result."""
    return hashlib.sha256(repr(canon_rows(cols, rows)).encode()).hexdigest()


def oracle_digests(corpus_dir: str, oracles: dict[str, str],
                   tmp_dir: str) -> dict[str, str]:
    """Run each key's oracle SQL in DuckDB over the corpus; key -> digest.
    A table stored as a directory of part files is read through a glob."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            src = f"{corpus_dir}/{t}.parquet"
            if os.path.isdir(src):
                src += "/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{src}')")
        out = {}
        for key, sql in oracles.items():
            res = con.execute(sql)
            out[key] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()

"""Expected results of declared queries, from their DuckDB
``oracle_sql()`` twins, computed once and reused.

A result is cached under a key made of the data files' contents and
the oracle SQL text, so a changed table or a changed oracle query is
recomputed and nothing else is. Cached rows are stored in the
canonical form of ``oracle_check.canonical_rows`` (columns sorted by
name, values as canonical strings); ``oracle_check.compare`` maps
canonical strings onto themselves, so it compares a cached result
exactly as it compares a live DuckDB relation.
"""

from __future__ import annotations

import hashlib
import json
import os


class CachedRelation:
    """The two members of a DuckDB relation ``oracle_check.compare``
    reads."""

    def __init__(self, columns: list[str], rows: list[list[str]]):
        self.description = [(c,) for c in columns]
        self._rows = [tuple(r) for r in rows]

    def fetchall(self) -> list[tuple]:
        return list(self._rows)


def data_digest(data_dir: str, tables: list[str]) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected_results(
    data_dir: str, sql: dict[str, str], cache_dir: str
) -> dict[str, CachedRelation]:
    """{query name: expected result} for every name in ``sql``."""

    from oracle_check import TABLES, canonical_rows

    digest = data_digest(data_dir, TABLES)
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, CachedRelation] = {}
    con = None
    for name, text in sql.items():
        key = hashlib.sha256(f"{digest}\0{text}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.json")
        if not os.path.exists(path):
            if con is None:
                con = _duckdb(data_dir, TABLES)
            rel = con.sql(text)
            cols = [d[0] for d in rel.description]
            entry = {"columns": sorted(cols), "rows": canonical_rows(cols, rel.fetchall())}
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
            os.replace(tmp, path)
        with open(path) as fh:
            entry = json.load(fh)
        out[name] = CachedRelation(entry["columns"], entry["rows"])
    if con is not None:
        con.close()
    return out


def _duckdb(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con

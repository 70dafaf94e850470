"""Expected output digests from the DuckDB oracles.

Every query output is reduced to an order-insensitive digest using the
normalization of ``tools/verify_local.py`` (the repository's oracle
gate), and compared with the digest of the query's DuckDB oracle run
on the same generated tables. Expected digests only ever come from
DuckDB, never from the engine.

The oracles are the slow part of a cold run, so their digests are
cached on disk, keyed by the tables' content key (the row multiset,
which every seed shares), the oracle SQL text and the DuckDB version.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterable, Sequence

import duckdb

from tools.verify_local import normalize_rows


def digest(rows: Iterable[Sequence], cols: Sequence[str]) -> dict:
    """Column names, row count and a hash of the normalized row multiset."""
    rows = [tuple(r) for r in rows]
    counted = normalize_rows(rows, list(cols))
    body = repr(sorted(counted.items(), key=repr)).encode()
    return {
        "cols": sorted(cols),
        "rows": len(rows),
        "hash": hashlib.sha256(body).hexdigest(),
    }


class OracleDigests:
    """Digests of the DuckDB oracles over one input directory."""

    def __init__(
        self, input_dir: str, tables: Sequence[str], content_key: str,
        cache_dir: str, spill_dir: str, threads: int,
    ) -> None:
        self._input_dir = input_dir
        self._tables = tables
        self._spill_dir = spill_dir
        self._threads = threads
        self._path = os.path.join(cache_dir, f"oracle-{content_key}.json")
        os.makedirs(cache_dir, exist_ok=True)
        try:
            with open(self._path) as fh:
                self._cache = json.load(fh)
        except FileNotFoundError:
            self._cache = {}

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(
            f"{duckdb.__version__}\n{sql}".encode()
        ).hexdigest()[:24]
        entry = self._cache.get(name)
        if entry is None or entry["sql_key"] != key:
            entry = {"sql_key": key, **self._run(sql)}
            self._cache[name] = entry
            tmp = f"{self._path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(self._cache, fh, indent=1, sort_keys=True)
            os.replace(tmp, self._path)
        return {k: entry[k] for k in ("cols", "rows", "hash")}

    def _run(self, sql: str) -> dict:
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self._threads}")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{self._spill_dir}'")
            con.execute("SET preserve_insertion_order=false")
            for t in self._tables:
                path = os.path.join(self._input_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            return digest(res.fetchall(), cols)
        finally:
            con.close()

"""Result digests and the DuckDB oracle cache.

A digest is the sha256 of a result after `tests/oracle_harness.py`'s
normalisation (columns and rows sorted, datetimes at microseconds,
object cells as repr), with every numeric column widened to float64 and
-0.0 folded into 0.0.  Two results with equal digests are therefore
equal under the harness's cell-exact comparison, which compares numbers
by value.

Oracle digests are keyed by query, scale factor, a hash of the oracle
SQL and the corpus content digest, so a changed oracle or corpus is
recomputed rather than trusted.  `digests.json` holds the checked-in
entries; entries computed at run time go to a cache file beside the
generated corpus.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKED_IN = os.path.join(HERE, "digests.json")


def digest(df: pd.DataFrame) -> str:
    from tests.oracle_harness import _normalize

    a = _normalize(df)
    h = hashlib.sha256(repr(list(a.columns)).encode())
    for c in a.columns:
        col = a[c]
        if pd.api.types.is_numeric_dtype(col) and not pd.api.types.is_bool_dtype(col):
            col = col.astype("float64") + 0.0
        h.update(b"\x1e" + "\x1f".join(map(repr, col.tolist())).encode())
    return f"{len(a)}:{h.hexdigest()}"


def _key(name: str, sql: str, sf: float, data_digest: str) -> str:
    sql_h = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return f"{name}|sf{sf}|sql:{sql_h}|data:{data_digest[:16]}"


def _load(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def expected(names, sf_dir: str, sf: float, data_digest: str, cache_path: str) -> dict:
    """{query: oracle digest} for `names`, running DuckDB for any entry
    neither cache holds."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
    from tests.oracle_harness import duckdb_run

    known = {**_load(CHECKED_IN), **_load(cache_path)}
    out, fresh = {}, {}
    for name in names:
        sql = QUERIES[name].sql
        if sql is None:
            raise ValueError(f"{name} has no oracle SQL")
        k = _key(name, sql, sf, data_digest)
        if k not in known:
            fresh[k] = known[k] = digest(duckdb_run(sql, sf_dir))
        out[name] = known[k]
    if fresh:
        cached = _load(cache_path)
        cached.update(fresh)
        with open(cache_path, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
    return out

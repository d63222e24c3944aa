"""Correctness checks, run outside every timed region.

Results are compared by the rules of ``scripts/drive_contract.py``: sort the
columns by name, normalise each value (floats rounded to 6 places,
timestamps as ISO text), sort the rendered rows and take a sha256.  The
rules are restated here because that script runs its whole drive when
imported.
"""

from __future__ import annotations

import hashlib
import math
import sys
from datetime import date, datetime

from jibaro_spark.queries import REGISTRY
from jibaro_spark.queries.registry import TABLES


def log(msg: str) -> None:
    """Diagnostics, on stderr: stdout ends with the result line."""
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def hash_rows(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def summarize(cols, rows) -> dict:
    return {"columns": sorted(cols), "rows": len(rows), "hash": hash_rows(cols, rows)}


def oracle_expectations(data_dir: str, names) -> dict:
    """DuckDB results of every named query that has an oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for n in names:
            if REGISTRY[n].oracle:
                rel = con.sql(REGISTRY[n].oracle)
                out[n] = summarize(list(rel.columns), rel.fetchall())
    finally:
        con.close()
    return out

"""Output checks against the engine's DuckDB oracles.

Every checked operation is compared with the oracle SQL the engine
registers for the query (``registry.ORACLES``), using the
order-insensitive value multiset of ``tests/oracle.py``: columns sorted
by name, floats rounded to 6 places, rows compared as a multiset. The
oracle side is computed once per checkout, when the benchmark prepares
its inputs, and stored as a digest of that multiset; each checked
result is reduced to the same digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def oracle_helpers(root: str):
    """The engine's own oracle-comparison helpers (``tests/oracle.py``)."""
    for path in (root, os.path.join(root, "tests")):
        if path not in sys.path:
            sys.path.insert(0, path)
    import oracle

    return oracle


def _canon(v):
    # numbers compare by value across engines (an oracle's 1 equals
    # Spark's 1.0, as in the multiset comparison)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return repr(float(v))
    if isinstance(v, (tuple, list)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    return str(v)


def digest(helpers, rows, cols) -> str:
    """Order-insensitive digest of a result's value multiset."""
    ms = helpers._multiset(rows, list(cols))
    items = sorted(json.dumps([_canon(list(k)), n]) for k, n in ms.items())
    return hashlib.sha256("\n".join(items).encode()).hexdigest()


def doc_digest(document: str) -> str:
    return hashlib.sha256(document.encode()).hexdigest()[:32]


def oracle_record(helpers, sql: str, sf_dir: str) -> dict:
    cols, rows = helpers.run_duckdb(sql, sf_dir)
    return {"rows": len(rows), "digest": digest(helpers, rows, cols), "cols": sorted(cols)}


def lookup_index(helpers, sql: str, sf_dir: str) -> dict[str, str]:
    """``request_id -> document digest`` from the ``collect_json_sink``
    oracle, for checking point lookups row by row."""
    cols, rows = helpers.run_duckdb(sql, sf_dir)
    rid, doc = cols.index("request_id"), cols.index("document")
    return {r[rid]: doc_digest(r[doc]) for r in rows}


def check_rows(helpers, expected: dict, rows, cols) -> str | None:
    """``None`` when ``rows`` match the oracle record, else the reason."""
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != oracle {expected['cols']}"
    if len(rows) != expected["rows"]:
        return f"{len(rows)} rows != oracle {expected['rows']}"
    if digest(helpers, rows, cols) != expected["digest"]:
        return "value multiset differs from the oracle"
    return None


def check_lookup(index: dict[str, str], request_id: str, rows) -> str | None:
    """A lookup returns the oracle's one document for a valid request
    and no row for a rejected one."""
    want = index.get(request_id)
    if want is None:
        return None if not rows else f"{request_id}: {len(rows)} rows for a rejected request"
    if len(rows) != 1:
        return f"{request_id}: {len(rows)} rows, oracle has 1"
    if doc_digest(rows[0]["document"]) != want:
        return f"{request_id}: document differs from the oracle"
    return None


def read_dataset(path: str):
    """Rows and column names of a Parquet dataset written by a sink."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = table.column_names
    data = table.to_pydict()
    return list(zip(*(data[c] for c in cols))), cols

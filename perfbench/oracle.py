"""Expected answers from DuckDB over the same generated files.

Results are compared as order-insensitive multisets with the value
normalisation of the repository's oracle gate, ``tools/check_oracle.py``.
"""

from __future__ import annotations

import datetime
import hashlib
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_gate = None


def multiset(rows, columns, ndigits=None):
    """``tools/check_oracle.multiset``: a Counter of normalised rows with the
    columns sorted by name."""
    global _gate
    if _gate is None:
        path = os.path.join(ROOT, "tools", "check_oracle.py")
        saved_path, saved_argv = list(sys.path), list(sys.argv)
        sys.argv = [path]   # the gate reads its arguments at import
        try:
            spec = importlib.util.spec_from_file_location("check_oracle", path)
            _gate = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(_gate)
        finally:
            sys.path[:], sys.argv[:] = saved_path, saved_argv
    return _gate.multiset(rows, columns, ndigits)


def text(v):
    """One cell as the text the service layers send (PG-wire and the REST
    ``stringify`` mode): timestamps in ISO form, numbers by ``str``."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def text_rows(rows) -> list[tuple]:
    return [tuple(text(v) for v in r) for r in rows]


def same(rows_a, cols_a, rows_b, cols_b) -> bool:
    """Equal results; a JSON result without rows carries no column names."""
    if not rows_a and not rows_b:
        return True
    return (sorted(cols_a) == sorted(cols_b)
            and multiset(text_rows(rows_a), list(cols_a))
            == multiset(text_rows(rows_b), list(cols_b)))


def digest(rows, columns, ndigits=None) -> str:
    items = sorted(multiset(rows, list(columns), ndigits).items(), key=repr)
    return hashlib.sha256(repr(items).encode()).hexdigest()


def digests(rows, columns) -> dict[str, str]:
    """The gate passes a result that matches exactly or after rounding
    floats to 9 digits (summation order depends on partitioning)."""
    return {"exact": digest(rows, columns), "round9": digest(rows, columns, 9)}


def matches(got: dict[str, str], want: dict[str, str]) -> bool:
    return got["exact"] == want["exact"] or got["round9"] == want["round9"]


def file_hash(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def registry_digests(con, names: list[str], sql: dict[str, str],
                     fixture_hash: str, cache_dir: str) -> dict[str, dict]:
    """``digests`` of each query's ``oracle_sql()`` twin, cached on disk by
    the SQL text and the fixture bytes."""
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for name in names:
        key = hashlib.sha256(
            (sql[name] + fixture_hash + "exact+round9").encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)["digests"]
            continue
        res = con.execute(sql[name])
        out[name] = digests(res.fetchall(), [d[0] for d in res.description])
        with open(path, "w") as f:
            json.dump({"name": name, "digests": out[name]}, f)
    return out

"""DuckDB twins of the benchmark's queries, and the output check.

Each twin is `SparkEntry.oracleSql[query]` run by DuckDB over the read-only
test tables. Twins depend only on those tables and the SQL text, so they are
computed once per host and cached in .bench_build/oracle, keyed by the SQL's
hash; a changed twin is recomputed.

The compare is the canonical one of tools/check.py (columns sorted by name,
cells normalised, values exact) with one difference: a twin whose outermost
query has an ORDER BY must match row for row, where check.py would also
accept the rows in another order.
"""
import hashlib
import pickle
import re
import sys
import time
from pathlib import Path

import build

sys.path.insert(0, str(build.ROOT / "tools"))
import check  # noqa: E402  (tools/check.py: canon, table)

CACHE = build.BUILD / "oracle"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def twin_path(sf_dir, query, sql):
    key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
    return CACHE / f"{query}.{key}.pkl"


def ensure(queries, oracle_sql, sf_dir, log=sys.stderr):
    """Computes the twin of every query in `queries` not cached yet."""
    missing = [q for q in queries if not twin_path(sf_dir, q, oracle_sql[q]).exists()]
    if not missing:
        return
    import duckdb
    CACHE.mkdir(parents=True, exist_ok=True)
    # bounded, so the twins can share the host with other work
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 4,
                                 "temp_directory": str(CACHE / "spill")})
    for t in TABLES:
        p = Path(sf_dir, f"{t}.parquet")
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for q in sorted(missing):
        t0 = time.monotonic()
        df = con.sql(oracle_sql[q]).df()
        path = twin_path(sf_dir, q, oracle_sql[q])
        for stale in CACHE.glob(f"{q}.*.pkl"):
            stale.unlink()
        tmp = path.with_suffix(".tmp")
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        tmp.rename(path)
        log.write(f"[perfbench] twin {q}: {len(df)} rows, "
                  f"{time.monotonic() - t0:.2f} s\n")
    con.close()


def load_twin(sf_dir, query, sql):
    with open(twin_path(sf_dir, query, sql), "rb") as f:
        return pickle.load(f)


def _strip_literals(sql):
    sql = re.sub(r"'(?:[^']|'')*'", "''", sql)
    return re.sub(r"--[^\n]*", "", sql)


def outer_order_by(sql):
    """True when the outermost SELECT of `sql` has an ORDER BY."""
    depth = 0
    text = _strip_literals(sql).upper()
    for m in re.finditer(r"[()]|\bORDER\s+BY\b", text):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def compare(mine, ref, ordered):
    """None when `mine` matches the twin `ref`, else a one-line reason."""
    m, r = check.canon(mine), check.canon(ref)
    if list(m.columns) != list(r.columns):
        return f"schema mine={list(m.columns)} twin={list(r.columns)}"
    if len(m) != len(r):
        return f"row count mine={len(m)} twin={len(r)}"
    tm, tr = check.table(m), check.table(r)
    if tm == tr:
        return None
    if not ordered and sorted(tm, key=repr) == sorted(tr, key=repr):
        return None
    for i, (a, b) in enumerate(zip(tm, tr)):
        if a != b:
            kind = "order" if sorted(tm, key=repr) == sorted(tr, key=repr) else "value"
            return f"{kind} differs at row {i}: mine={a} twin={b}"
    return "differs"

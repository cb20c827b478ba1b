"""Query output checks against the registry's DuckDB oracles.

Outputs are normalized as the repo's correctness gate does (columns
sorted by name, floats rounded to 9 places, temporal values as ISO
strings, rows sorted) and compared together with each column's
cross-engine type kind.  DuckDB results are computed once per
(scale factor, query, oracle SQL) and cached as JSON.
"""
from __future__ import annotations

import hashlib
import json
import math
import os

_SPARK_KINDS = {
    'tinyint': 'int', 'smallint': 'int', 'int': 'int', 'bigint': 'int',
    'float': 'float', 'double': 'float', 'string': 'str', 'date': 'date',
    'boolean': 'bool'}
_DUCK_KINDS = {
    'TINYINT': 'int', 'SMALLINT': 'int', 'INTEGER': 'int', 'BIGINT': 'int',
    'UTINYINT': 'int', 'USMALLINT': 'int', 'UINTEGER': 'int',
    'HUGEINT': 'int128', 'UHUGEINT': 'int128', 'UBIGINT': 'int128',
    'FLOAT': 'float', 'DOUBLE': 'float', 'REAL': 'float', 'VARCHAR': 'str',
    'DATE': 'date', 'BOOLEAN': 'bool'}


def spark_kind(dtype: str) -> str:
    d = dtype.lower()
    if d.startswith('decimal'):
        return 'decimal'
    if d.startswith('timestamp'):
        return 'ts'
    return _SPARK_KINDS.get(d, d)


def duck_kind(dtype: str) -> str:
    d = dtype.upper()
    if d.startswith('DECIMAL'):
        return 'decimal'
    if d.startswith('TIMESTAMP'):
        return 'ts'
    return _DUCK_KINDS.get(d, d.lower())


def normalize(rows, columns, kinds) -> dict:
    """Order-insensitive canonical form of a result set."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = 'NaN' if math.isnan(v) else round(v, 9)
            elif hasattr(v, 'isoformat'):
                v = v.isoformat()
            vals.append(repr(v))
        out.append(vals)
    return {'columns': [columns[i] for i in idx],
            'kinds': [kinds[i] for i in idx],
            'rows': sorted(out)}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want`` (None when they agree)."""
    if got['columns'] != want['columns']:
        return f"columns {got['columns']} != {want['columns']}"
    if got['kinds'] != want['kinds']:
        return f"type kinds {got['kinds']} != {want['kinds']}"
    if len(got['rows']) != len(want['rows']):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    bad = [(a, b) for a, b in zip(got['rows'], want['rows']) if a != b]
    return f'value mismatch, e.g. {bad[:2]}' if bad else None


def spark_result(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return normalize(rows, df.columns, [spark_kind(t) for _, t in df.dtypes])


def _cache_path(cache_dir: str, name: str, sql: str) -> str:
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    return os.path.join(cache_dir, f'{name}-{digest}.json')


def build(data_dir: str, cache_dir: str, names, oracle_sql: dict) -> None:
    """Compute and cache the DuckDB result of every named query."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    todo = [n for n in names
            if not os.path.exists(_cache_path(cache_dir, n, oracle_sql[n]))]
    if not todo:
        return
    con = duckdb.connect(config={'threads': 4, 'memory_limit': '3GB'})
    for table in sorted(os.listdir(data_dir)):
        if table.endswith('.parquet'):
            path = os.path.join(data_dir, table)
            con.execute(
                f"CREATE VIEW {table[:-8]} AS SELECT * FROM '{path}'")
    for name in todo:
        rel = con.sql(oracle_sql[name])
        cols = [d[0] for d in rel.description]
        res = normalize(rel.fetchall(), cols,
                        [duck_kind(str(t)) for t in rel.types])
        path = _cache_path(cache_dir, name, oracle_sql[name])
        with open(path + '.tmp', 'w') as f:
            json.dump(res, f)
        os.replace(path + '.tmp', path)
    con.close()


def load(cache_dir: str, name: str, sql: str) -> dict:
    with open(_cache_path(cache_dir, name, sql)) as f:
        return json.load(f)

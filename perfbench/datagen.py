"""Deterministic testdata-shaped tables for the benchmark.

Writes the ten parquet tables the query registry reads (``region``
... ``embeddings``) with the same schemas, value ranges and row
counts per scale factor as the repo's synthetic testdata: a
TPC-H-like star schema, an ``events`` stream, a word-salad
``documents`` corpus with 5% near-duplicates (a copy of another
document plus the token ``dup``) and unit-norm 64-dim embeddings.

The tables depend only on ``sf`` and the fixed data seed, never on
the benchmark's ``--seed``, so oracle results can be cached per
scale factor.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ('a the data row key value table column part line order customer'
         ' join group agg sort hash filter scan window stream batch'
         ' merge query spark vector big small fast slow').split()
LANGS = ('en', 'zh', 'es', 'fr', 'de')
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')
ADJ = ('blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small')
NOUN = ('anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget')
PTYPES = ('ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD')
PRIORITIES = ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
EVENT_TYPES = ('click', 'error', 'purchase', 'signup', 'view')
REGIONS = ('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST')
DAY_US = 86_400 * 1_000_000


def _days(start: str, rng, n: int, span_days: int) -> pa.Array:
    base = np.datetime64(start, 'us').astype(np.int64)
    us = base + rng.integers(0, span_days, n) * DAY_US
    return pa.array(us, pa.timestamp('us'))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _docs(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [' '.join(vocab[rng.integers(0, len(WORDS), k)])
             for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + ' dup'
    return pa.table({
        'doc_id': pa.array(np.arange(n), pa.int64()),
        'text': pa.array(texts, pa.string()),
        'lang': _pick(rng, LANGS, n, LANG_P),
        'source': pa.array([f'src{i % 20}' for i in range(n)], pa.string()),
        'n_chars': pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(sf: float) -> dict:
    """All ten tables at scale factor ``sf`` as pyarrow tables."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {
        'region': pa.table({
            'r_regionkey': pa.array(range(5), pa.int32()),
            'r_name': pa.array(REGIONS, pa.string())}),
        'nation': pa.table({
            'n_nationkey': pa.array(range(25), pa.int32()),
            'n_name': pa.array([f'NATION_{i}' for i in range(25)]),
            'n_regionkey': pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        'customer': pa.table({
            'c_custkey': pa.array(np.arange(n_cust), pa.int64()),
            'c_name': pa.array([f'Customer#{i:09d}' for i in range(n_cust)]),
            'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            'c_acctbal': _money(rng, -999.99, 9999.99, n_cust),
            'c_mktsegment': _pick(rng, SEGMENTS, n_cust)}),
        'supplier': pa.table({
            's_suppkey': pa.array(np.arange(n_supp), pa.int64()),
            's_name': pa.array([f'Supplier#{i:09d}' for i in range(n_supp)]),
            's_nationkey': pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            's_acctbal': _money(rng, -999.99, 9999.99, n_supp)}),
        'part': pa.table({
            'p_partkey': pa.array(np.arange(n_part), pa.int64()),
            'p_name': pa.array([f'{ADJ[a]} {NOUN[b]}' for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            'p_brand': pa.array([f'Brand#{b}' for b in
                                 rng.integers(1, 26, n_part)]),
            'p_type': _pick(rng, PTYPES, n_part),
            'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
            'p_retailprice': np.round(
                900 + (np.arange(n_part) % 1000) / 10, 1)}),
        'orders': pa.table({
            'o_orderkey': pa.array(np.arange(n_ord), pa.int64()),
            'o_custkey': pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            'o_orderstatus': _pick(rng, ('F', 'O', 'P'), n_ord),
            'o_totalprice': _money(rng, 1000, 500_000, n_ord),
            'o_orderdate': _days('1995-01-01', rng, n_ord, 2404),
            'o_orderpriority': _pick(rng, PRIORITIES, n_ord)}),
        'lineitem': pa.table({
            'l_orderkey': pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            'l_partkey': pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            'l_suppkey': pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            'l_linenumber': pa.array(rng.integers(1, 8, n_line), pa.int32()),
            'l_quantity': rng.integers(1, 51, n_line).astype(np.float64),
            'l_extendedprice': _money(rng, 900, 105_000, n_line),
            'l_discount': rng.integers(0, 11, n_line) / 100,
            'l_tax': rng.integers(0, 9, n_line) / 100,
            'l_returnflag': _pick(rng, ('A', 'N', 'R'), n_line),
            'l_linestatus': _pick(rng, ('F', 'O'), n_line),
            'l_shipdate': _days('1995-01-02', rng, n_line, 2499)}),
    }
    gaps = rng.exponential(30 * 86_400 * 1e6 / n_ev, n_ev)
    ts = np.datetime64('2024-01-01', 'us').astype(np.int64) \
        + np.cumsum(gaps).astype(np.int64)
    out['events'] = pa.table({
        'event_id': pa.array(np.arange(n_ev), pa.int64()),
        'ts': pa.array(ts, pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, n_cust // 10 + 1, n_ev),
                            pa.int64()),
        'event_type': _pick(rng, EVENT_TYPES, n_ev),
        'value': np.round(rng.exponential(50, n_ev), 2),
        'props': pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    out['documents'] = _docs(rng, n_doc)
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out['embeddings'] = pa.table({
        'vec_id': pa.array(np.arange(n_emb), pa.int64()),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(sf: float, out_dir: str) -> None:
    """Write every table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))

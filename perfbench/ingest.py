"""Ingest stages of ``graph_ingest``: streaming dedup, shards, compaction.

Set-up stages the document corpus plus planted duplicate families as
id-ordered JSON chunks whose boundaries come from the run's seed,
keyed by the sha1 of each text.  Each pass streams the chunks through
``streaming.incremental.incremental_exact_dedup`` into fresh store,
output and checkpoint directories (one micro-batch per chunk, each
probing the keys accepted so far), writes the survivors with
``sources.shards.write_training_shards`` and rewrites them with
``sources.compaction.compact_table``.

Planted families follow the registry's planted-family fixtures:
members of a subgroup are exact duplicates, and their ids are spread
through the organic id range so duplicates straddle chunks.  Under
id-ordered arrival the dedup output is the minimum doc_id per key,
whatever the chunk boundaries.
"""
from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq

FAMILIES = 8
MEMBERS = 5            # j < 3 share text A(f), j >= 3 share text B(f)
STAGES = ('exact_dedup', 'write_shards', 'compact')
STREAM_TIMEOUT_S = 120


def corpus(data_dir: str) -> list:
    """[(doc_id, key, text)] in id order; key is the text's sha1."""
    docs = pq.read_table(os.path.join(data_dir, 'documents.parquet'),
                         columns=['doc_id', 'text']).to_pylist()
    rows = [(10 * d['doc_id'], d['text']) for d in docs]
    n = len(docs)
    for f in range(FAMILIES):
        for j in range(MEMBERS):
            tag = 'a' if j < 3 else 'b'
            text = ' '.join(f'zq{tag}{f}w{i}' for i in range(8))
            pos = (f * 97 + j * 131 + 7) % n
            rows.append((10 * pos + 5, text))
    rows.sort()
    return [(i, hashlib.sha1(t.encode()).hexdigest(), t) for i, t in rows]


def expected_exact(rows: list) -> set:
    """Minimum doc_id per key."""
    first = {}
    for i, key, _ in rows:
        first.setdefault(key, i)
    return set(first.values())


def stage_chunks(rows: list, out_dir: str, rng, chunks: int) -> int:
    """Write ``rows`` as ``chunks`` id-ordered JSON files with seeded
    boundaries and increasing mtimes; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(rows)
    cuts = sorted(rng.sample(range(n // (2 * chunks), n - n // (2 * chunks)),
                             chunks - 1))
    bounds = [0] + cuts + [n]
    base = time.time() - 1000
    total = 0
    for c in range(chunks):
        path = os.path.join(out_dir, f'chunk-{c:03d}.json')
        with open(path, 'w') as f:
            for i, key, text in rows[bounds[c]:bounds[c + 1]]:
                f.write(json.dumps({'doc_id': i, 'key': key, 'text': text}))
                f.write('\n')
        os.utime(path, (base + 10 * c, base + 10 * c))
        total += os.path.getsize(path)
    return total


def _stream(spark, src: str):
    return (spark.readStream.schema('doc_id long, key string, text string')
            .option('maxFilesPerTrigger', 1).json(src))


def _await(query) -> list:
    try:
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            raise RuntimeError('stream did not finish in time')
    finally:
        query.stop()
    return query.recentProgress


def run_stage(spark, stage: str, src: str, pass_dir: str, timer) -> dict:
    """Run one ingest stage; ``timer(kind)`` brackets the build and the
    exec part.  Returns stream progress for the dedup stage."""
    from ons_utils_spark.streaming import incremental

    d = lambda *p: os.path.join(pass_dir, *p)  # noqa: E731
    if stage == 'exact_dedup':
        with timer('build'):
            q = incremental.incremental_exact_dedup(
                _stream(spark, src), out_dir=d('exact', 'out'),
                store_dir=d('exact', 'store'),
                checkpoint=d('exact', 'ckpt'), key_col='key')
        with timer('exec'):
            return {'progress': _await(q)}
    if stage == 'write_shards':
        from ons_utils_spark.operators import sampling
        from ons_utils_spark.sources import readers, shards
        with timer('build'):
            df = sampling.global_order_index(
                readers.read_parquet(spark, d('exact', 'out')), 'doc_id')
        with timer('exec'):
            shards.write_training_shards(df, d('shards'), shard_size=64)
        return {}
    from ons_utils_spark.sources import compaction
    with timer('exec'):
        compaction.compact_table(spark, d('exact', 'out'), d('compacted'))
    return {}


def check(spark, rows: list, pass_dir: str) -> dict:
    """Stage name -> None when its output is right, else the reason."""
    d = lambda *p: os.path.join(pass_dir, *p)  # noqa: E731
    ids = lambda path: {r[0] for r in  # noqa: E731
                        spark.read.parquet(path).select('doc_id').collect()}
    out = {}
    kept = ids(d('exact', 'out'))
    want = expected_exact(rows)
    out['exact_dedup'] = None if kept == want else (
        f'exact dedup kept {len(kept)} ids, expected {len(want)}'
        f' (min doc_id per key); e.g. extra {sorted(kept - want)[:3]}'
        f' missing {sorted(want - kept)[:3]}')
    n_shards = spark.read.parquet(d('shards')).count()
    out['write_shards'] = None if n_shards == len(kept) else (
        f'shards hold {n_shards} rows, accepted {len(kept)}')
    n_comp = spark.read.parquet(d('compacted')).count()
    out['compact'] = None if n_comp == len(kept) else (
        f'compacted table holds {n_comp} rows, accepted {len(kept)}')
    return out


def disk_usage(path: str) -> tuple:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size

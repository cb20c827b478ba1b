"""Compare two sets of benchmark reports, layer by layer.

    python3 perfbench/compare.py BASE CANDIDATE

BASE and CANDIDATE are report files written by ``run.py`` (``--report``
or ``.perfbench_cache/reports/``) or directories of them; traced runs
(``--trace 1``) carry the per-layer metrics.  Several reports of one
workload are reduced to per-metric medians.  For each workload both
sides have, it prints the end-to-end deltas, then the per-layer time
deltas ranked by absolute size, which names the layer behind an
end-to-end change, then the other per-layer deltas ranked by relative
size.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> dict:
    """workload -> {'end_to_end': {...}, 'per_layer': {...}, 'units': {...}}"""
    files = sorted(glob.glob(os.path.join(path, '*.json'))) \
        if os.path.isdir(path) else [path]
    by_workload = {}
    for f in files:
        with open(f) as fh:
            rep = json.load(fh)
        by_workload.setdefault(rep['workload'], []).append(rep)
    out = {}
    for workload, reps in by_workload.items():
        merged = {'units': {}, 'n': len(reps),
                  'hosts': {json.dumps(r['host'], sort_keys=True)
                            for r in reps}}
        for part in ('end_to_end', 'per_layer'):
            keys = {k for r in reps for k in r[part]}
            merged[part] = {k: statistics.median(
                [r[part][k] for r in reps if k in r[part]]) for k in keys}
        for r in reps:
            merged['units'].update(r['units'])
        out[workload] = merged
    return out


def _rel(a: float, b: float) -> float:
    return (b - a) / abs(a) if a else (0.0 if b == a else float('inf'))


def _line(name, a, b, unit) -> str:
    rel = _rel(a, b)
    pct = f'{100 * rel:+7.1f}%' if rel != float('inf') else '    new'
    return f'  {name:<44} {a:>12.4g} -> {b:<12.4g} {b - a:+12.4g} {unit:<6} {pct}'


def compare(base: dict, cand: dict) -> list:
    lines = []
    for workload in sorted(set(base) & set(cand)):
        a, b = base[workload], cand[workload]
        units = {**a['units'], **b['units']}
        lines.append(f'== {workload} (reports: {a["n"]} vs {b["n"]})')
        if a['hosts'] != b['hosts']:
            lines.append('  WARNING: host descriptions differ; the deltas'
                         ' mix hardware and code changes')
        lines.append(' end to end')
        for k in sorted(set(a['end_to_end']) & set(b['end_to_end'])):
            lines.append(_line(k, a['end_to_end'][k], b['end_to_end'][k],
                               units.get(k, '')))
        get = lambda side, k: side['per_layer'].get(k, 0.0)  # noqa: E731
        keys = sorted(k for k in set(a['per_layer']) | set(b['per_layer'])
                      if get(a, k) or get(b, k))
        if not keys:
            continue
        times = [k for k in keys if units.get(k) == 's']
        others = [k for k in keys if units.get(k) != 's']
        times.sort(key=lambda k: -abs(get(b, k) - get(a, k)))
        others.sort(key=lambda k: -abs(_rel(get(a, k), get(b, k))))
        lines.append(' per-layer time, largest change first')
        lines += [_line(k, get(a, k), get(b, k), 's') for k in times]
        lines.append(' other per-layer metrics, largest relative change'
                     ' first')
        lines += [_line(k, get(a, k), get(b, k), units.get(k, ''))
                  for k in others]
    return lines


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, cand = load(argv[0]), load(argv[1])
    lines = compare(base, cand)
    if not lines:
        print('no workload in common', file=sys.stderr)
        return 1
    print('\n'.join(lines))
    return 0


if __name__ == '__main__':
    sys.exit(main())

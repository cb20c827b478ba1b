"""Smoke test of the benchmark's output schema at sf0.001.

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Runs every workload once untraced and once traced on the sf0.001
tables and checks the last stdout line against ``BENCHMARK.json``:
exactly the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; every end-to-end (untraced) or per-layer (traced)
metric, and no other, with its declared unit and a finite value;
every metric also printed as a ``metric`` line; a report carrying
the host description.  It also checks that the benchmark fails
without printing a result where the library is missing.
"""
from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, 'BENCHMARK.json')
HOST_KEYS = {'nproc', 'spark', 'jdk', 'driver_memory', 'master',
             'shuffle_partitions'}


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _run(workload: str, trace: int, report: str, cwd: str = ROOT):
    cmd = _spec()['command'] + [
        '--workload', workload, '--seed', '7', '--seconds', '1',
        '--trace', str(trace), '--sf', '0.001', '--report', report]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_run(workload: str, trace: int) -> None:
    spec = _spec()
    declared = spec['per_layer'] if trace else spec['end_to_end']
    with tempfile.TemporaryDirectory() as tmp:
        report_path = os.path.join(tmp, 'report.json')
        proc = _run(workload, trace, report_path)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        with open(report_path) as f:
            report = json.load(f)
    assert set(result) == {'correct', 'attempted', 'failed', 'metrics'}
    assert result['correct'] is True, report['checks']
    assert isinstance(result['attempted'], int) and result['attempted'] >= 1
    assert result['failed'] == 0
    assert list(result['metrics']) == [m['name'] for m in declared]
    printed = {ln.split()[1]: ln.split()[3] for ln in lines
               if ln.startswith('metric ')}
    for m in declared:
        got = result['metrics'][m['name']]
        assert set(got) == {'value', 'unit'}
        assert got['unit'] == m['unit'], (m['name'], got['unit'])
        assert isinstance(got['value'], float) and math.isfinite(
            got['value']), (m['name'], got['value'])
        assert printed.get(m['name']) == m['unit'], m['name']
    assert HOST_KEYS <= set(report['host'])
    assert report['sf'] == 0.001 and report['host']['nproc'] >= 1
    assert all(c['ok'] for c in report['checks'])


def test_schema_untraced():
    for w in _spec()['workloads']:
        check_run(w['name'], 0)


def test_schema_traced():
    for w in _spec()['workloads']:
        check_run(w['name'], 1)


def test_fails_without_library():
    with tempfile.TemporaryDirectory() as tmp:
        shutil.copy(SPEC_PATH, tmp)
        for p in _spec()['paths']:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(tmp, p),
                            ignore=shutil.ignore_patterns('__pycache__'))
        proc = _run(_spec()['workloads'][0]['name'], 0,
                    os.path.join(tmp, 'r.json'), cwd=tmp)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout


if __name__ == '__main__':
    tests = [test_fails_without_library, test_schema_untraced,
             test_schema_traced]
    for t in tests:
        t()
        print(f'ok {t.__name__}')
    sys.exit(0)

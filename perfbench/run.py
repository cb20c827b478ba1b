"""Closed-loop benchmark of ons_utils_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, one client: a Spark
session at ``local[nproc]`` with ``nproc`` shuffle partitions runs
the workload's operations one after another, each only after the
previous one finished.  An operation is one registry query built and
run to the ``noop`` sink, or one ingest stage.

A run:
  1. builds, once per checkout and scale factor, the testdata-shaped
     tables (``datagen``) and the DuckDB oracle results of every
     query (``oracles``) under ``.perfbench_cache/``;
  2. starts the session, stages inputs, and runs one untimed check
     pass, in the workload's declared order, whose outputs are
     compared with the oracles (this also warms the JVM and the
     Python workers), plus ``WARM_PASSES`` untimed passes;
  3. runs whole timed passes, each in a seed-permuted operation
     order: the workload's ``MIN_PASSES``, then more while another
     fits in ``--seconds``.  With
     ``--trace 1`` passes alternate untraced and traced: traced
     passes wrap the library's layer functions (``tracing``) and read
     Spark's job, stage and SQL metrics, and the untraced ones give
     the overhead baseline.

Workloads: graph_ingest is driver-bound (many short Spark jobs: graph
iterations and streaming micro-batches), hash_similarity is
compute-bound (few jobs, heavy hashing tasks).  The per-layer metrics
and the end-to-end metric each should move:
  plans.build_s, spark.jobs, spark.driver_gap_s,
  operators.graph.*, operators.clustering.*,
  streaming.incremental.*, sources.*          -> wall_s, graph_ingest
  spark.exec_s, spark.task_s, spark.busy_ratio,
  operators.dedup.*, operators.bloom.*,
  operators.concat.*                          -> wall_s, op_p50_s,
                                                 hash_similarity
  spark.shuffle_*_mb, spark.spill_mb, spark.exchanges, spark.smj,
  spark.broadcasts                            -> wall_s, both workloads
  stored_bytes_ratio, sources.write.*         -> disk use, graph_ingest
  session.start_s                             -> setup_s, both workloads
  spark.gc_s                                  -> peak_rss_mb, wall_s

Every metric is printed as ``metric <name> <value> <unit>``, then the
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or per-layer metrics
with ``--trace 1``).  The full report, host description included, is
written to ``--report`` (default ``.perfbench_cache/reports/``);
``perfbench/compare.py`` diffs two of them.
"""
from __future__ import annotations

import time

T_PROC = time.time()  # set-up is timed from here, before any import

import argparse
import contextlib
import fcntl
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback

import datagen
import ingest
import oracles
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, '.perfbench_cache')
SPEC_PATH = os.path.join(ROOT, 'BENCHMARK.json')
DEFAULT_SF = 0.01
INGEST_CHUNKS = 2

# A workload is a tuple of units; the seed permutes the units within a
# pass, and a unit's operations run in order (ingest stages read the
# output of the stage before).
WORKLOADS = {
    'graph_ingest': (('q_hits',), ('q_connected_components',),
                     ingest.STAGES),
    'hash_similarity': (('q_ngram_novelty',), ('q_minhash_pairs',),
                        ('q_concat_extracts',)),
}
# Untimed passes after the check pass, counted in set-up.  The hash
# queries' Arrow-UDF workers and JIT keep speeding up over their first
# two passes (second-pass latencies spread ~35% across runs).
WARM_PASSES = {'graph_ingest': 0, 'hash_similarity': 2}
# Timed passes a run makes even when ``--seconds`` is shorter.  A
# graph_ingest pass takes ~13 s and a hash_similarity pass ~3 s on
# 4 cores.  On a shared 4-vCPU VM, CPU speed swings by a quarter from
# one second to the next, so the median of several passes spreads
# less from run to run than one pass does.
MIN_PASSES = {'graph_ingest': 2, 'hash_similarity': 5}
QUERY_NAMES = [op for units in WORKLOADS.values() for unit in units
               for op in unit if op not in ingest.STAGES]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    p.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--sf', type=float, default=DEFAULT_SF,
                   help='scale factor of the generated tables')
    p.add_argument('--report', help='where to write the full JSON report')
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_kb(pid) -> int:
    with open(f'/proc/{pid}/status') as f:
        for line in f:
            if line.startswith('VmHWM:'):
                return int(line.split()[1])
    return 0


def build_inputs(sf: float) -> tuple:
    """Generate the tables and oracle results once per checkout."""
    from ons_utils_spark.plans.queries import ORACLES

    data_dir = os.path.join(CACHE, f'data-sf{sf:g}')
    oracle_dir = os.path.join(CACHE, f'oracles-sf{sf:g}')
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, 'build.lock'), 'w') as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(data_dir, '.ready')):
            shutil.rmtree(data_dir, ignore_errors=True)
            datagen.write(sf, data_dir)
            open(os.path.join(data_dir, '.ready'), 'w').close()
        oracles.build(data_dir, oracle_dir, QUERY_NAMES, ORACLES)
    return data_dir, oracle_dir


class Runner:
    """Drives one workload in one Spark session."""

    def __init__(self, args, spark, data_dir, oracle_dir, run_dir):
        self.args, self.spark = args, spark
        self.sc = spark.sparkContext
        self.data_dir, self.oracle_dir, self.run_dir = \
            data_dir, oracle_dir, run_dir
        self.rng = random.Random(args.seed)
        self.units = WORKLOADS[args.workload]
        self.attempted = self.failed = 0
        self.checks = []
        self.tracer = None
        self.n_pass = 0
        self.src = None
        if any(unit == ingest.STAGES for unit in self.units):
            self.rows = ingest.corpus(data_dir)
            self.src = os.path.join(run_dir, 'chunks')
            self.input_bytes = ingest.stage_chunks(
                self.rows, self.src, self.rng, INGEST_CHUNKS)

    def order(self) -> list:
        return [op for unit in self.rng.sample(self.units, len(self.units))
                for op in unit]

    def _timer(self, rec: dict):
        @contextlib.contextmanager
        def timer(kind):
            t = time.time()
            if self.tracer is None:
                yield
            else:
                with self.tracer.span(kind, 'bench'):
                    yield
            rec[kind] = time.time() - t
        return timer

    def run_op(self, op: str, collect: bool, pass_dir: str) -> dict:
        """One operation; returns its timings and (when ``collect``) the
        collected result."""
        rec = {'op': op, 'start': time.time(), 'ok': True}
        self.attempted += 1
        self.sc.setJobGroup(f'perfbench:{self.args.workload}:{op}',
                            f'{op} pass {self.n_pass}')
        if self.tracer is not None:
            self.tracer.op = op
        timer = self._timer(rec)
        try:
            if op in ingest.STAGES:
                rec.update(ingest.run_stage(
                    self.spark, op, self.src, pass_dir, timer))
            else:
                from ons_utils_spark.plans.queries import QUERIES
                with timer('build'):
                    df = QUERIES[op](self.spark, self.data_dir)
                with timer('exec'):
                    if collect:
                        rec['result'] = oracles.spark_result(df)
                    else:
                        df.write.format('noop').mode('overwrite').save()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            traceback.print_exc()
            rec['ok'] = False
            rec['error'] = f'{type(e).__name__}: {e}'[:500]
            self.failed += 1
        rec['end'] = time.time()
        rec['latency'] = rec['end'] - rec['start']
        return rec

    def check_pass(self) -> None:
        from ons_utils_spark.plans.queries import ORACLES

        pass_dir = os.path.join(self.run_dir, 'check')
        # The cold pass runs in the declared order, not a seeded one:
        # the JIT compiles its first profiles here, and a run whose cold
        # pass started with another query kept a different speed in its
        # timed passes (q_ngram_novelty first: ~10% slower).
        recs = [self.run_op(op, True, pass_dir)
                for unit in self.units for op in unit]
        staged = [r for r in recs if r['op'] in ingest.STAGES]
        verdicts = {}
        if staged and all(r['ok'] for r in staged):
            verdicts = ingest.check(self.spark, self.rows, pass_dir)
        for r in recs:
            op = r['op']
            if not r['ok']:
                why = r['error']
            elif op in ingest.STAGES:
                why = verdicts.get(op, 'not checked: a stage failed')
            else:
                want = oracles.load(self.oracle_dir, op, ORACLES[op])
                why = oracles.mismatch(r['result'], want)
            if r['ok'] and why:
                self.failed += 1
            self.checks.append({'op': op, 'ok': why is None, 'why': why,
                                'latency': r['latency']})

    def timed_pass(self, traced: bool) -> dict:
        self.n_pass += 1
        pass_dir = os.path.join(self.run_dir, f'pass{self.n_pass}')
        if traced:
            self.tracer = tracing.Tracer()
            self.tracer.install()
            gc0 = tracing.jvm_gc_seconds(self.sc)
        t0 = time.time()
        try:
            recs = [self.run_op(op, False, pass_dir) for op in self.order()]
        finally:
            t1 = time.time()
            if traced:
                self.tracer.uninstall()
        out = {'traced': traced, 'start': t0, 'end': t1, 'wall': t1 - t0,
               'ops': [{k: v for k, v in r.items() if k != 'progress'}
                       for r in recs]}
        if traced:
            out['layers'] = self.layer_metrics(recs, t0, t1, gc0, pass_dir)
            self.tracer = None
        # pass outputs stay until the run ends (``main`` removes the run
        # directory): on a file system mounted with online discard, a
        # delete here can trim blocks during the next timed pass
        return out

    def layer_metrics(self, recs, t0, t1, gc0, pass_dir) -> dict:
        spans = self.tracer.spans
        gc_s = tracing.jvm_gc_seconds(self.sc) - gc0
        jobs = tracing.spark_jobs(self.sc, t0, t1)
        plans = tracing.sql_plan_counts(self.spark, t0, t1)
        owner = tracing.attribute(spans, jobs)
        own = tracing.self_times(spans)
        busy = tracing.union_seconds([(j['start'], j['end']) for j in jobs])
        task_s = sum(j['task_s'] for j in jobs)
        m = {
            'plans.build_s': sum(r.get('build', 0.0) for r in recs),
            'spark.exec_s': sum(r.get('exec', 0.0) for r in recs),
            'spark.jobs': len(jobs),
            'spark.driver_gap_s': (t1 - t0) - busy,
            'spark.task_s': task_s,
            'spark.busy_ratio': task_s / (busy * nproc()) if busy else 0.0,
            'spark.gc_s': gc_s,
            'spark.shuffle_write_mb':
                sum(j['shuffle_write'] for j in jobs) / 2**20,
            'spark.shuffle_read_mb':
                sum(j['shuffle_read'] for j in jobs) / 2**20,
            'spark.spill_mb': sum(j['spill'] for j in jobs) / 2**20,
            'spark.exchanges': plans['exchanges'],
            'spark.smj': plans['smj'],
            'spark.broadcasts': plans['broadcasts'],
            'spark.sql_executions': plans['executions'],
        }
        layer = {}
        for i, s in enumerate(spans):
            d = layer.setdefault(_layer_name(s), {
                'calls': 0, 'self_s': 0.0, 'jobs': 0, 'task_s': 0.0})
            d['calls'] += 1
            d['self_s'] += own[i]
        for job, i in zip(jobs, owner):
            name = 'unattributed' if i is None else _layer_name(spans[i])
            d = layer.setdefault(name, {
                'calls': 0, 'self_s': 0.0, 'jobs': 0, 'task_s': 0.0})
            d['jobs'] += 1
            d['task_s'] += job['task_s']
        for name, d in layer.items():
            for k, v in d.items():
                m[f'{name}.{k}'] = v
        for family in ('operators', 'sources', 'streaming'):
            parts = [d for n, d in layer.items() if n.startswith(family + '.')]
            m[f'{family}.self_s'] = sum(d['self_s'] for d in parts)
            m[f'{family}.jobs'] = sum(d['jobs'] for d in parts)
        stream_recs = [r for r in recs if 'progress' in r]
        batches = [p for r in stream_recs for p in r['progress']
                   if p.numInputRows > 0]
        stream_jobs = sum(
            1 for job, i in zip(jobs, owner) if i is not None
            and spans[i][tracing.OP] in {r['op'] for r in stream_recs})
        m['streaming.incremental.batches'] = len(batches)
        m['streaming.incremental.batch_p50_s'] = statistics.median(
            [p.durationMs['triggerExecution'] / 1000
             for p in batches]) if batches else 0.0
        m['streaming.incremental.jobs_per_batch'] = \
            stream_jobs / len(batches) if batches else 0.0
        files, size = ingest.disk_usage(pass_dir)
        m['sources.write.files'] = files
        m['sources.write.bytes'] = size
        m['stored_bytes_ratio'] = size / self.input_bytes if self.src else 0.0
        return m


def _layer_name(span) -> str:
    """Library spans are named after their module; the benchmark's own
    spans stand for the query function's code outside the library
    layers and for the Spark action."""
    if span[tracing.LAYER] == 'bench':
        return {'build': 'plans.build', 'exec': 'spark.action'}[
            span[tracing.NAME]]
    return span[tracing.LAYER]


def declared_metrics(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares, in its order."""
    with open(SPEC_PATH) as f:
        return {m['name']: m['unit'] for m in json.load(f)[kind]}


def unit_of(name: str, declared: dict) -> str:
    if name in declared:
        return declared[name]
    if name.endswith('_s'):
        return 's'
    return 'MB' if name.endswith('_mb') else 'count'


def start_session(workload: str, tmp: str):
    from ons_utils_spark import get_spark

    n = nproc()
    # keep the JVMs' temporary files (and their perf-data mmap) out of
    # the shared /tmp: the benchmark writes only inside its checkout
    jvm_opts = f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}'
    os.environ['SPARK_LAUNCHER_OPTS'] = jvm_opts
    spark = get_spark(
        f'perfbench-{workload}', master=f'local[{n}]', shuffle_partitions=n,
        extra_confs={
            'spark.ui.enabled': 'false',
            'spark.sql.warehouse.dir': os.path.join(tmp, 'warehouse'),
            'spark.driver.extraJavaOptions': jvm_opts,
        })
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, 'proc', None)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def host_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        'nproc': nproc(), 'master': sc.master,
        'shuffle_partitions': spark.conf.get('spark.sql.shuffle.partitions'),
        'spark': spark.version,
        'jdk': sc._jvm.java.lang.System.getProperty('java.version'),
        'driver_memory': sc.getConf().get('spark.driver.memory', '1g'),
        'python': sys.version.split()[0],
    }


def median_metrics(dicts: list) -> dict:
    keys = sorted({k for d in dicts for k in d})
    return {k: statistics.median([d.get(k, 0.0) for d in dicts])
            for k in keys}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ons_utils_spark  # noqa: F401
    except ImportError as e:
        print(f'perfbench: cannot import ons_utils_spark from {ROOT}: {e}',
              file=sys.stderr)
        return 2
    run_dir = os.path.join(CACHE, 'runs', str(os.getpid()))
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = os.environ['SPARK_LOCAL_DIRS'] = tmp
    tempfile.tempdir = None
    try:
        return measure(args, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, tmp: str) -> int:
    from pyspark import SparkContext

    data_dir, oracle_dir = build_inputs(args.sf)
    t_session = time.time()
    spark = start_session(args.workload, tmp)
    session_s = time.time() - t_session
    try:
        host = host_info(spark)
        runner = Runner(args, spark, data_dir, oracle_dir, run_dir)
        runner.check_pass()
        for _ in range(WARM_PASSES[args.workload]):
            runner.timed_pass(traced=False)
        setup_s = time.time() - T_PROC
        passes = []
        deadline = time.time() + args.seconds
        # Whole passes only: at least MIN_PASSES, then more while the
        # last one says another fits before the deadline.  A traced run
        # alternates untraced and traced passes, at least
        # untraced-traced-untraced, so warm-up drift cancels in the
        # overhead estimate.
        while (len(passes) < MIN_PASSES[args.workload]
               or time.time() + passes[-1]['wall'] <= deadline
               or (args.trace and len(passes) < 3)):
            passes.append(runner.timed_pass(
                traced=bool(args.trace) and len(passes) % 2 == 1))
        rss_kb = peak_rss_kb(os.getpid()) + peak_rss_kb(
            SparkContext._gateway.proc.pid)
    finally:
        stop_session(spark)

    plain = [p for p in passes if not p['traced']]
    traced = [p for p in passes if p['traced']]
    e2e = {
        'setup_s': setup_s,
        'wall_s': statistics.median(p['wall'] for p in plain),
        'op_p50_s': statistics.median(
            o['latency'] for p in plain for o in p['ops']),
        'peak_rss_mb': rss_kb / 1024,
    }
    declared = {**declared_metrics('end_to_end'),
                **declared_metrics('per_layer')}
    layers = {}
    if traced:
        layers = {n: 0.0 for n in declared_metrics('per_layer')}
        layers.update(median_metrics([p['layers'] for p in traced]))
        layers['session.start_s'] = session_s
        layers['trace.overhead_s'] = (
            statistics.mean(p['wall'] for p in traced)
            - statistics.mean(p['wall'] for p in plain))
    attempted, failed = runner.attempted, runner.failed
    report = {
        'workload': args.workload, 'seed': args.seed,
        'seconds': args.seconds, 'trace': args.trace, 'sf': args.sf,
        'host': host, 'correct': failed == 0, 'attempted': attempted,
        'failed': failed, 'error_rate': failed / attempted,
        'checks': runner.checks, 'end_to_end': e2e, 'per_layer': layers,
        'units': {k: unit_of(k, declared) for k in list(e2e) + list(layers)},
        'passes': [{'traced': p['traced'], 'wall': p['wall'],
                    'ops': [{k: o[k] for k in ('op', 'latency', 'ok')}
                            for o in p['ops']]} for p in passes],
    }
    path = args.report or os.path.join(
        CACHE, 'reports',
        f'{args.workload}-seed{args.seed}-trace{args.trace}.json')
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, 'w') as f:
        json.dump(report, f, indent=1)

    print(f'perfbench workload={args.workload} seed={args.seed} '
          f'sf={args.sf:g} ' + ' '.join(f'{k}={v}' for k, v in host.items()))
    for c in runner.checks:
        print(f"check {c['op']} {c['latency']:.2f}s "
              f"{'ok' if c['ok'] else 'FAIL ' + c['why']}")
    print(f'error_rate {failed / attempted:.4f} ({failed}/{attempted} '
          'operations failed)')
    for k, v in list(e2e.items()) + sorted(layers.items()):
        print(f'metric {k} {v:.6g} {unit_of(k, declared)}')
    print(f'report {path}')
    chosen = declared_metrics('per_layer' if args.trace else 'end_to_end')
    values = layers if args.trace else e2e
    print(json.dumps({
        'correct': failed == 0, 'attempted': attempted, 'failed': failed,
        'metrics': {n: {'value': float(values[n]), 'unit': u}
                    for n, u in chosen.items()}}))
    return 0


if __name__ == '__main__':
    sys.exit(main())

"""Layer attribution for traced benchmark passes, from outside the library.

:class:`Tracer` wraps the public functions of the library's layer
modules (``sources.*``, ``operators.*``, ``streaming.*``)
as module attributes, plus the names ``plans.queries`` binds to them
directly (``concat``, ``load_tables``, ...).  Each call records a
span (name, layer, start, end, parent, operation); spans stay in
memory until the pass ends.  :func:`spark_jobs` and
:func:`sql_plan_counts` read the pass's jobs, stages and SQL
executions from Spark's status stores, and :func:`attribute` charges
every job to the innermost span open when it was submitted.
"""
from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import threading
import time

LAYER_PACKAGES = ('ons_utils_spark.operators', 'ons_utils_spark.sources',
                  'ons_utils_spark.streaming')
QUERY_MODULE = 'ons_utils_spark.plans.queries'
PREFIX = 'ons_utils_spark.'

# span record fields
NAME, LAYER, START, END, PARENT, OP = range(6)


def layer_modules() -> list:
    """Every module whose public functions are traced."""
    names = []
    for pkg_name in LAYER_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        names += [f'{pkg_name}.{m.name}'
                  for m in pkgutil.iter_modules(pkg.__path__)]
    return [importlib.import_module(n) for n in sorted(names)]


class Tracer:
    """Records spans for calls into the library's layer modules."""

    def __init__(self):
        self.spans = []
        self.op = None
        self._local = threading.local()
        self._patches = []       # (module, attr, original, wrapper)
        wrappers = {}
        for mod in layer_modules():
            layer = mod.__name__[len(PREFIX):]
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith('_') or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                wrappers[obj] = self._wrap(obj, layer)
                self._patches.append((mod, attr, obj, wrappers[obj]))
        queries = importlib.import_module(QUERY_MODULE)
        for attr, obj in list(vars(queries).items()):
            if inspect.isfunction(obj) and obj in wrappers:
                self._patches.append((queries, attr, obj, wrappers[obj]))

    def _wrap(self, fn, layer: str):
        # functools.wraps keeps __module__/__qualname__, and while the
        # wrapper is installed it IS the module attribute, so
        # cloudpickle ships UDF-referenced helpers by reference and
        # Python workers run the original function.
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for mod, attr, _, wrapper in self._patches:
            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, original, _ in self._patches:
            setattr(mod, attr, original)

    def span(self, name: str, layer: str) -> '_Span':
        if not hasattr(self._local, 'stack'):
            self._local.stack = []
        return _Span(self, self._local.stack, name, layer)


class _Span:
    __slots__ = ('tracer', 'stack', 'rec')

    def __init__(self, tracer: Tracer, stack: list, name: str, layer: str):
        self.tracer, self.stack = tracer, stack
        self.rec = [name, layer, 0.0, 0.0,
                    stack[-1] if stack else None, tracer.op]

    def __enter__(self):
        self.stack.append(len(self.tracer.spans))
        self.tracer.spans.append(self.rec)
        self.rec[START] = time.time()
        return self

    def __exit__(self, *exc):
        self.rec[END] = time.time()
        self.stack.pop()
        return False


def self_times(spans: list) -> list:
    """Per-span self time: duration minus its direct children."""
    own = [s[END] - s[START] for s in spans]
    for s in spans:
        if s[PARENT] is not None:
            own[s[PARENT]] -= s[END] - s[START]
    return own


def _opt(option):
    return option.get() if option.isDefined() else None


def _seconds(date_option):
    d = _opt(date_option)
    return None if d is None else d.getTime() / 1000.0


def jvm_gc_seconds(sc) -> float:
    """Cumulative collection time of the driver JVM (in local mode it
    also hosts the executors)."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _as_list(sc, seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def spark_jobs(sc, t0: float, t1: float) -> list:
    """Jobs submitted in [t0, t1] with their stage metrics.

    Waits for the listener bus first, so every finished job of the
    window is in the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for job in _as_list(sc, store.jobsList(None)):
        sub = _seconds(job.submissionTime())
        if sub is None or not t0 <= sub <= t1:
            continue
        end = _seconds(job.completionTime()) or t1
        rec = {'id': job.jobId(), 'start': sub, 'end': end,
               'task_s': 0.0, 'shuffle_read': 0, 'shuffle_write': 0,
               'spill': 0}
        for sid in _as_list(sc, job.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted
                continue
            rec['task_s'] += st.executorRunTime() / 1000.0
            rec['shuffle_read'] += st.shuffleReadBytes()
            rec['shuffle_write'] += st.shuffleWriteBytes()
            rec['spill'] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.append(rec)
    return out


_EXCHANGE = re.compile(r'(?<![A-Za-z])Exchange\b')
_BROADCAST = re.compile(r'\bBroadcastExchange\b')
_SMJ = re.compile(r'\bSortMergeJoin\b')


def plan_tree(description: str) -> str:
    """The executed operator tree of a physical plan description: the
    AQE final plan when present, else the tree before the node
    details."""
    text = description.split('== Physical Plan ==', 1)[-1]
    if '== Final Plan ==' in text:
        text = text.split('== Final Plan ==', 1)[1]
        text = text.split('== Initial Plan ==', 1)[0]
    return text.strip('\n').split('\n\n', 1)[0]


def sql_plan_counts(spark, t0: float, t1: float) -> dict:
    """Shuffle exchanges, broadcasts and sort-merge joins over the
    executed plans of SQL executions submitted in [t0, t1]."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    counts = {'exchanges': 0, 'broadcasts': 0, 'smj': 0, 'executions': 0}
    for ex in _as_list(sc, store.executionsList()):
        if not t0 <= ex.submissionTime() / 1000.0 <= t1:
            continue
        tree = plan_tree(ex.physicalPlanDescription())
        counts['executions'] += 1
        counts['exchanges'] += len(_EXCHANGE.findall(tree))
        counts['broadcasts'] += len(_BROADCAST.findall(tree))
        counts['smj'] += len(_SMJ.findall(tree))
    return counts


def attribute(spans: list, jobs: list) -> list:
    """Index of the innermost span open at each job's submission
    (None when no span was open)."""
    out = []
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s[START] <= job['start'] <= s[END] and (
                    best is None or s[START] >= spans[best][START]):
                best = i
        out.append(best)
    return out


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

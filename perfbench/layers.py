"""Per-layer instruments read from outside the program.

* Spark's always-on SQL metrics, read from the session's SQL status
  store after each execution (works with ``spark.ui.enabled=false``).
* In-process timing of the kernel's public functions on one core.
* Peak resident memory of the Spark application's processes, from
  ``/proc``.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import pandas as pd

from ocrodjvu_spark.functions import extract
from ocrodjvu_spark.kernel import hocr, htmldom

# --------------------------------------------------------------- SQL metrics

_UNIT = {'ms': 1e-3, 's': 1.0, 'm': 60.0, 'h': 3600.0,
         'B': 1.0, 'KiB': 1024.0, 'MiB': 1024.0 ** 2,
         'GiB': 1024.0 ** 3, 'TiB': 1024.0 ** 4}
_VALUE = r'([-\d.,]+)(?: (\w+))?'
_STATS = re.compile(rf'{_VALUE} \({_VALUE}, {_VALUE}, {_VALUE}')


def _number(num, unit):
    return float(num.replace(',', '')) * _UNIT.get(unit, 1.0)


def parse_metric(text):
    """Spark's formatted SQL metric -> (total, median task, max task).

    Single-task metrics read ``"770 ms"``; multi-task ones read
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0.1 s, ...)"``.
    Times come back in seconds, sizes in bytes; ``None`` for metrics
    without a total.
    """
    line = text.split('\n')[-1]
    m = _STATS.match(line)
    if m:
        g = m.groups()
        return _number(*g[0:2]), _number(*g[4:6]), _number(*g[6:8])
    m = re.match(_VALUE, line)
    if m is None:  # average metrics carry no total
        return None
    v = _number(*m.groups())
    return v, v, v


class SqlMetrics:
    """Reads the SQL executions a session ran since the last ``mark``."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def _ids(self):
        execs = self.store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    def mark(self):
        self.seen = set(self._ids())

    def collect(self):
        """Nodes of every execution since the last mark, then re-mark.

        Returns ``(n_executions, [(name, desc, {metric: (total, med,
        max)})])``.
        """
        new = [i for i in self._ids() if i not in self.seen]
        nodes = []
        for eid in new:
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid).allNodes()
            for i in range(graph.size()):
                node = graph.apply(i)
                metrics = {}
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    value = parse_metric(v.get()) if v.isDefined() else None
                    if value is not None:
                        metrics[m.name()] = value
                nodes.append((node.name().strip(), node.desc(), metrics))
        self.seen.update(new)
        return len(new), nodes


def node_sum(nodes, name_pred, metric):
    """Total of one metric over the nodes whose name matches."""
    return sum(m[metric][0] for name, _, m in nodes
               if name_pred(name) and metric in m)


def plan_layers(nodes):
    """The boundary, pipeline and scan layer metrics of one execution.

    Boundary bytes are per row through the Python UDF.
    """
    udf = lambda n: n == 'ArrowEvalPython'  # noqa: E731
    exchange = lambda n: n == 'Exchange'  # noqa: E731
    scan = lambda n: n.startswith('Scan')  # noqa: E731
    udf_rows = node_sum(nodes, udf, 'number of output rows')
    tasks = [m['time to run Python workers'] for name, _, m in nodes
             if udf(name) and 'time to run Python workers' in m]
    return {
        'extract_udf.rows': udf_rows,
        'extract_udf.python_run_s': node_sum(
            nodes, udf, 'time to run Python workers'),
        'extract_udf.python_init_s': node_sum(
            nodes, udf, 'time to initialize Python workers'),
        'extract_udf.bytes_to_python_per_row': node_sum(
            nodes, udf, 'data sent to Python workers') / max(udf_rows, 1),
        'extract_udf.bytes_from_python_per_row': node_sum(
            nodes, udf, 'data returned from Python workers')
            / max(udf_rows, 1),
        'pipeline.udf_task_skew': max(
            (mx / med for _, med, mx in tasks if med > 0), default=0.0),
        'pipeline.explode_rows': node_sum(
            nodes, lambda n: n == 'Generate', 'number of output rows'),
        'pipeline.shuffle_bytes': node_sum(
            nodes, exchange, 'shuffle bytes written'),
        'pipeline.fetch_wait_s': node_sum(nodes, exchange, 'fetch wait time'),
        'pipeline.agg_build_s': node_sum(
            nodes, lambda n: n.endswith('HashAggregate'),
            'time in aggregation build'),
        'pipeline.exchanges': float(sum(1 for n, _, _ in nodes
                                        if exchange(n))),
        'scan.s': node_sum(nodes, scan, 'scan time'),
        'scan.bytes': node_sum(nodes, scan, 'size of files read'),
    }


def python_boot_s(nodes):
    """Worker start plus initialisation time of one execution."""
    udf = lambda n: n == 'ArrowEvalPython'  # noqa: E731
    return (node_sum(nodes, udf, 'time to start Python workers')
            + node_sum(nodes, udf, 'time to initialize Python workers'))


def medians(samples):
    """{name: median} over a list of {name: value} dicts."""
    return {k: statistics.median(s[k] for s in samples)
            for k in samples[0]} if samples else {}

# ------------------------------------------------------------------- kernel


def kernel_profile(markups, options, budget_s):
    """Kernel throughput and its parse / zones / emit split on one core.

    ``options`` are the workload's ``extract_one`` keyword arguments.
    The first pass warms the kernel; throughput passes then run for half
    the budget, instrumented passes for the other half.
    """
    emit_spans = options.get('emit_spans')
    emit_sexpr = options.get('emit_sexpr', True)
    words = 0
    for m in markups:
        for page in extract.extract_one(m, **options)['pages'] or ():
            words += len(page['extracted_text'].split())
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < budget_s / 2:
        for m in markups:
            extract.extract_one(m, **options)
        n += 1
    elapsed = time.perf_counter() - t0
    parse = zones = emit = 0.0
    passes = 0
    t_end = time.perf_counter() + budget_s / 2
    while passes == 0 or time.perf_counter() < t_end:
        for m in markups:
            t0 = time.perf_counter()
            htmldom.parse_html(m)
            t1 = time.perf_counter()
            try:
                pages = hocr.extract_zones(
                    m, settings=hocr.ExtractSettings(
                        details=hocr.DETAILS_BY_NAME['words']))
            except Exception:  # planted malformed turns end as error rows
                pages = []
            t2 = time.perf_counter()
            for z in pages:
                extract.zone_text(z)
                if emit_sexpr:
                    z.compact_sexpr()
                if emit_spans == 'packed':
                    extract.pack_word_spans(z)
            t3 = time.perf_counter()
            parse += t1 - t0
            zones += (t2 - t1) - (t1 - t0)
            emit += t3 - t2
        passes += 1
    kturns = passes * len(markups) / 1000.0
    return {
        'kernel.turns_per_s': n * len(markups) / elapsed,
        'kernel.words_per_s': n * words / elapsed,
        'kernel.parse_s_per_kturn': parse / kturns,
        'kernel.zones_s_per_kturn': zones / kturns,
        'kernel.emit_s_per_kturn': emit / kturns,
    }


def frame_build_s_per_kturn(markups, options, batch=512, reps=3):
    """Cost of the UDF body around the kernel: ``make_extract_udf(...)
    .func`` on ``batch``-row pandas batches minus the sum of
    ``extract_one`` over the same rows (best of ``reps``)."""
    func = extract.make_extract_udf(
        details='words', emit_spans=options.get('emit_spans'),
        emit_sexpr=options.get('emit_sexpr', True)).func
    batches = [pd.Series(markups[i:i + batch])
               for i in range(0, len(markups), batch)]
    best_udf = best_loop = float('inf')
    for _ in range(reps):
        t0 = time.perf_counter()
        for b in batches:
            func(b)
        t1 = time.perf_counter()
        for b in batches:
            [extract.extract_one(m, **options) for m in b]
        t2 = time.perf_counter()
        best_udf = min(best_udf, t1 - t0)
        best_loop = min(best_loop, t2 - t1)
    return (best_udf - best_loop) / (len(markups) / 1000.0)

# ------------------------------------------------------------------- memory


def _children():
    """{ppid: [pid, ...]} over every visible process."""
    tree = {}
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(')', 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(d))
    return tree


def descendants(pid):
    tree = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in tree.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid):
    try:
        with open(f'/proc/{pid}/cmdline', 'rb') as f:
            return f.read().replace(b'\0', b' ').decode(errors='replace')
    except OSError:
        return ''


def vm_hwm_mb(pid):
    """Peak resident set of one process in MiB (0 if it is gone)."""
    try:
        with open(f'/proc/{pid}/status') as f:
            for line in f:
                if line.startswith('VmHWM:'):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_workers(jvm_pid):
    return [p for p in descendants(jvm_pid) if 'pyspark' in _cmdline(p)]

# ----------------------------------------------------------- host control


def host_control_s():
    """A fixed 10M-iteration integer loop on one core (host drift gauge)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s = (s * 31 + i) % 2147483647
    return time.perf_counter() - t0


def cpu_jiffies():
    """(steal, total) CPU time of the whole machine from ``/proc/stat``;
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open('/proc/stat') as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal

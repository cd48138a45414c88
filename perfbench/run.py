"""Seeded end-to-end benchmark of ocrodjvu_spark, with a traced layer split.

Usage, from the repository root:

    python3 perfbench/run.py --workload checkpoint_resume --seed 1 --seconds 8 \
        --trace 0

One process runs a closed loop: the next execution starts only
after the previous one finished. Spark runs at ``local[nproc-1]``.
Per run:

1. the host control loop, before any JVM starts;
2. a Spark session generates the inputs for (workload, seed); they are
   generated in every run, so every set-up follows the same history;
3. set-up, once: a fresh Spark session plus one untimed warm-up
   execution over a few rows of every input file (boots the Python
   workers, compiles the plan); ``setup_s`` is its duration; then the
   workload's untimed full-size executions;
4. at least MIN_TIMED timed executions, and more while the next one is
   predicted to end within ``--seconds``; ``rows_per_s`` is the median
   of per-execution input rows / seconds;
5. the correctness check, outside the timed span.

With ``--trace 1`` every second execution is traced (SQL metrics read
after it), the kernel is timed in process, and the per-layer metrics
are reported instead of the end-to-end ones. The last stdout line is
the JSON result; the line before it carries the full record (failures,
every sample, environment). See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

# fails (exit code 1, no result) where the package is absent
from ocrodjvu_spark.session import get_spark  # noqa: E402

import inputs  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_TIMED = 3
KERNEL_BUDGET_S = 2.0



def declared_units(section):
    """{metric: unit} for one metric section of BENCHMARK.json."""
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return {m['name']: m['unit'] for m in json.load(f)[section]}


def git_sha():
    """HEAD of the checkout's own .git, if there is one."""
    try:
        with open(os.path.join(ROOT, '.git', 'HEAD')) as f:
            head = f.read().strip()
        if not head.startswith('ref: '):
            return head
        ref = head[5:]
        path = os.path.join(ROOT, '.git', ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, '.git', 'packed-refs')) as f:
            for line in f:
                if line.rstrip().endswith(' ' + ref):
                    return line.split()[0]
    except OSError:
        pass
    return 'unknown'


class Sessions:
    """The JVM and the Spark sessions started in it, all confined to
    ``work`` (temp, shuffle, warehouse and metastore directories)."""

    def __init__(self, cores, work):
        self.cores = cores
        tmp = os.path.join(work, 'tmp')
        os.makedirs(tmp)
        os.environ['TMPDIR'] = tmp
        # Spark's Python workers import the package from the checkout
        os.environ['PYTHONPATH'] = os.pathsep.join(
            p for p in (ROOT, os.environ.get('PYTHONPATH')) if p)
        self.conf = {
            # a fixed-size heap: no resizing during the timed window
            'spark.driver.memory': '1g',
            'spark.driver.extraJavaOptions':
                f'-Xms1g -Dderby.system.home={work}/derby '
                f'-Djava.io.tmpdir={tmp}',
            'spark.local.dir': os.path.join(work, 'local'),
            'spark.sql.warehouse.dir': os.path.join(work, 'warehouse'),
            'spark.hadoop.hadoop.tmp.dir': os.path.join(work, 'hadoop'),
            'spark.ui.showConsoleProgress': 'false',
            # one input file per scan task; fixed shuffle partition count
            'spark.sql.files.maxPartitionBytes': str(64 << 20),
            'spark.sql.files.openCostInBytes': str(64 << 20),
            'spark.sql.adaptive.coalescePartitions.enabled': 'false',
        }
        self.spark = None
        self.workers = set()

    def start(self):
        """A fresh session; it launches the JVM when none is running."""
        self.stop()
        self.spark = get_spark('perfbench', cpus=self.cores,
                               shuffle_partitions=2 * self.cores,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel('ERROR')
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def worker_rss_mb(self, python_stage):
        """Highest VmHWM among the Python workers (the JVM when the plan
        runs no Python)."""
        if not python_stage:
            return layers.vm_hwm_mb(self.jvm_pid)
        pids = layers.python_workers(self.jvm_pid)
        self.workers.update(pids)
        return max(map(layers.vm_hwm_mb, pids), default=0.0)

    def close(self):
        """Stop Spark and the JVM, and wait until every process ended."""
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        self.workers.update(layers.descendants(self.jvm_pid))
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 20
        while self.workers and time.monotonic() < deadline:
            self.workers = {p for p in self.workers
                            if os.path.exists(f'/proc/{p}')}
            time.sleep(0.1)
        for p in self.workers:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def set_up(sessions, warm):
    """A fresh JVM and session through one untimed warm-up execution of
    ``warm`` (the workload over its warm-up inputs); returns the
    session, its metric reader and the set-up's timings."""
    t0 = time.perf_counter()
    spark = sessions.start()
    sql = layers.SqlMetrics(spark)
    t1 = time.perf_counter()
    warm.prepare(spark)
    warm.execute(spark)
    warm.after()
    t2 = time.perf_counter()
    _, nodes = sql.collect()
    return spark, sql, {'setup_s': t2 - t0, 'session.start_s': t1 - t0,
                        'session.warmup_s': t2 - t1,
                        'extract_udf.python_boot_s':
                            layers.python_boot_s(nodes)}


def measure(sessions, spark, sql, wl, seconds, trace):
    """Closed loop: at least MIN_TIMED executions (of each kind), then
    more while the next is predicted to end within ``seconds``. With
    ``trace`` every second execution is traced (its time includes
    reading the SQL metrics)."""
    m = {'rates': [], 'traced_rates': [], 'layers': [], 'stored': [],
         'attempted': 0, 'failed': 0, 'rss_mb': 0.0}
    t_start = time.perf_counter()
    durations = []
    i = 0
    while i < (2 if trace else 1) * MIN_TIMED or (
            time.perf_counter() - t_start
            + statistics.median(durations or [0.0]) <= seconds):
        traced = trace and i % 2 == 1
        i += 1
        m['attempted'] += 1
        try:
            if traced:
                sql.mark()
            t0 = time.perf_counter()
            rows = wl.execute(spark)
            if traced:
                n_exec, nodes = sql.collect()
            dt = time.perf_counter() - t0
            wl.after()
        except Exception:  # a failed execution is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            m['failed'] += 1
            continue
        durations.append(dt)
        m['traced_rates' if traced else 'rates'].append(rows / dt)
        if traced:
            m['layers'].append(dict(layers.plan_layers(nodes),
                                    **wl.layers(n_exec, nodes)))
        if hasattr(wl, 'stored'):
            m['stored'].append(wl.stored)
        m['rss_mb'] = max(m['rss_mb'], sessions.worker_rss_mb(
            wl.python_stage))
    return m


def trace_layers(spark, wl, m, setup, cores, names):
    """The per-layer table; layers the workload does not run stay 0."""
    out = dict.fromkeys(names, 0.0)
    rows = statistics.median(m['rates']) if m['rates'] else 0.0
    traced = statistics.median(m['traced_rates']) if m['traced_rates'] else 0.0
    out['trace.rows_per_s_untraced'] = rows
    out['trace.overhead_share'] = 1 - traced / rows if rows else 0.0
    out['session.start_s'] = setup['session.start_s']
    out['session.warmup_s'] = setup['session.warmup_s']
    plan = layers.medians(m['layers'])
    udf_rows = plan.pop('extract_udf.rows', 0.0)
    if wl.name == 'corpus_dedup':
        plan['dedup.shuffle_bytes'] = plan.pop('pipeline.shuffle_bytes')
        plan['dedup.exchanges'] = plan.pop('pipeline.exchanges')
    plan.pop('pipeline.exchanges', None)
    out.update(plan)
    out.update({k: v for k, v in wl.parts.items() if k not in plan})
    out.update(layers.medians(m['stored']))
    out.update(wl.trace_extras(spark))
    if wl.kernel_options is not None:
        out['extract_udf.python_boot_s'] = setup['extract_udf.python_boot_s']
        sample = wl.kernel_sample()
        out.update(layers.kernel_profile(sample, wl.kernel_options,
                                         KERNEL_BUDGET_S))
        out['extract_udf.frame_build_s_per_kturn'] = (
            layers.frame_build_s_per_kturn(sample, wl.kernel_options))
        kernel_tps = out['kernel.turns_per_s']
        out['extract_udf.parallel_efficiency'] = rows / (cores * kernel_tps)
        run_s = out['extract_udf.python_run_s']
        if run_s:
            out['extract_udf.boundary_share'] = (
                1 - udf_rows / kernel_tps / run_s)
    return out


def run(args, sessions, work):
    cores = sessions.cores
    env = {'nproc': len(os.sched_getaffinity(0)), 'spark_cores': cores,
           'git_sha': git_sha(), 'seed': args.seed,
           'host_ctl_s': layers.host_control_s()}  # before any JVM starts
    # inputs are generated in every run, in the same way: the set-up
    # then always follows the same JVM history
    t0 = time.perf_counter()
    data = inputs.generate_inputs(sessions.start(), args.workload,
                                  args.seed, os.path.join(work, 'inputs'),
                                  2 * cores)
    env['input_generation_s'] = time.perf_counter() - t0
    kind = WORKLOADS[args.workload]
    warm = kind(os.path.join(data, 'warmup'),
                os.path.join(work, 'warmup'), args.seed, cores)
    spark, sql, setup = set_up(sessions, warm)
    wl = kind(os.path.join(data, 'full'), work, args.seed, cores)
    wl.prepare(spark)
    # untimed full-size executions, so the JIT has compiled the hot paths
    for _ in range(wl.warm_executions):
        wl.execute(spark)
        wl.after()
    steal0, total0 = layers.cpu_jiffies()
    m = measure(sessions, spark, sql, wl, args.seconds, args.trace)
    steal1, total1 = layers.cpu_jiffies()
    env['host_steal_share'] = (steal1 - steal0) / max(total1 - total0, 1)
    failures = []
    m['attempted'] += 1
    t0 = time.perf_counter()
    try:
        failures = wl.check(spark)
    except Exception:
        failures = ['check raised: ' + traceback.format_exc()]
    env['check_s'] = time.perf_counter() - t0
    if failures:
        m['failed'] += 1
    record = {
        'workload': args.workload, 'seed': args.seed, 'trace': args.trace,
        'failures': failures[:20], 'attempted': m['attempted'],
        'failed': m['failed'],
        'failed_share': m['failed'] / m['attempted'],
        'rows_per_execution': wl.rows, 'env': env,
        'setup': setup, 'rates': m['rates'],
        'traced_rates': m['traced_rates'],
    }
    if args.trace:
        units = declared_units('per_layer')
        values = trace_layers(spark, wl, m, setup, cores, units)
    else:
        units = declared_units('end_to_end')
        values = {
            'rows_per_s': statistics.median(m['rates']) if m['rates'] else 0.0,
            'setup_s': setup['setup_s'],
            'worker_rss_peak_mb': m['rss_mb'],
        }
        if m['stored']:
            record['stored_bytes_per_input_byte'] = layers.medians(
                m['stored'])['snapstore.bytes_per_input_byte']
    metrics = {k: {'value': values[k], 'unit': units[k]} for k in units}
    record['metrics'] = metrics
    print(json.dumps(record), flush=True)
    correct = not failures and m['failed'] == 0
    print(json.dumps({'correct': correct, 'attempted': m['attempted'],
                      'failed': m['failed'], 'metrics': metrics}),
          flush=True)
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, '.perfbench', f'run-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    sessions = Sessions(max(1, len(os.sched_getaffinity(0)) - 1), work)
    try:
        ok = run(args, sessions, work)
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == '__main__':
    main()

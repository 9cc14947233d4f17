"""One benchmark run inside its own process (group): set-up, the timed
closed loop, the output checks and, with ``--trace 1``, the per-layer
trace.  Started by ``run.py``, which owns the inputs, the timeout and
the clean-up; prints the result as the last line of stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import jobs  # noqa: E402
import layers  # noqa: E402
import procs  # noqa: E402

clock = time.perf_counter


def log(msg):
    print('[perfbench] %s' % msg, file=sys.stderr, flush=True)


def session(work, workload, tracing):
    """The library's session for ``local[nproc]``; the benchmark adds
    only where Spark writes and, when tracing, the event log."""
    from dragnet_spark.plans.session import get_spark
    conf = {
        'spark.local.dir': os.path.join(work, 'spark-local'),
        'spark.sql.warehouse.dir': os.path.join(work, 'warehouse'),
        'spark.ui.showConsoleProgress': 'false',
    }
    if tracing:
        log_dir = os.path.join(work, 'eventlog')
        os.makedirs(log_dir, exist_ok=True)
        conf.update({'spark.eventLog.enabled': 'true',
                     'spark.eventLog.dir': log_dir,
                     'spark.eventLog.compress': 'false',
                     'spark.eventLog.rolling.enabled': 'false'})
    return get_spark('perfbench-%s' % workload, cores=jobs.nproc(),
                     extra_conf=conf)


def stop_session(spark):
    """Stop the SparkContext, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, 'proc', None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def digest(spark, path):
    """(rows, bit_xor of xxhash64 over every column) of a parquet output."""
    import pyspark.sql.functions as F
    df = spark.read.parquet(path)
    row = df.select(F.count(F.lit(1)).alias('n'),
                    F.bit_xor(F.xxhash64(*df.columns)).alias('h')).first()
    return int(row['n']), int(row['h'] or 0)


def load_outputs(workload, out_dir):
    """The job's parquet outputs as Arrow tables, by sink name."""
    import pyarrow.parquet as pq
    names = ('extracted',) if workload == 'extract' else ('curated', 'verdicts')
    return {n: pq.read_table(os.path.join(out_dir, n)) for n in names}


def check_outputs(spark, workload, docs, outputs, seed):
    """Independent checks of one execution's outputs: (errors, quality)."""
    import pyarrow as pa

    from dragnet_spark.model import default_model
    model = default_model()
    if workload == 'extract':
        return checks.check_extract(outputs['extracted'], docs,
                                    jobs.AMPLIFICATION['extract'], model, seed)
    if workload == 'funnel':
        rows = checks.extracted_ok(docs, jobs.AMPLIFICATION['funnel'], model)
        id_type = pa.string()
    else:
        rows = docs
        id_type = pa.int64()
    verdicts = outputs['verdicts'].to_pylist()
    text = dict(rows)
    surv = [(d, text[d]) for d in checks.survivor_ids(verdicts) if d in text]
    pairs = []
    if surv:
        from dragnet_spark.operators.dedup import minhash_near_duplicates
        spark.sparkContext.setJobGroup('check', 'check')
        df = spark.createDataFrame(
            pa.table({'doc_id': pa.array([d for d, _ in surv], id_type),
                      'text': pa.array([t for _, t in surv], pa.string())}))
        pairs = [(r['doc_a'], r['doc_b']) for r in
                 minhash_near_duplicates(df, threshold=jobs.DEDUP_THRESHOLD)
                 .select('doc_a', 'doc_b').collect()]
    errors = checks.check_curation(
        verdicts, outputs['curated'].to_pylist(), rows,
        checks.oracle_gate_counts(rows, id_type), pairs)
    return errors, {}


def warm_up(spark, workload, work):
    """The untimed executions of set-up, on the warm-up input."""
    for _ in range(jobs.WARM_EXECUTIONS[workload]):
        jobs.run(spark, workload, os.path.join(work, 'warm'),
                 os.path.join(work, 'out', 'warm'))


def traced_layers(spark, workload, in_dir, work, untraced_wall, seed):
    """Per-layer walls and counts, in a session of their own that keeps
    Spark's event log; task metrics come later from that log, grouped
    by the job group each phase runs under.  ``untraced_wall`` comes
    from a session without the event log, after the same warm-up."""
    sc = spark.sparkContext
    sc.setJobGroup('warm', 'warm')
    warm_up(spark, workload, work)
    m = {}
    run_layers = jobs.WORKLOAD_LAYERS[workload]
    # the real job once more, with a job group per phase
    sc.setJobGroup('build', 'build')
    t0 = clock()
    with jobs.ComponentsProbe(spark, clock, 'build') as probe:
        frames = jobs.build(spark, workload, in_dir)
    t_built = clock()
    sc.setJobGroup('write', 'write')
    jobs.write(frames, os.path.join(work, 'out', 'traced'))
    t_end = clock()
    m['trace_overhead_s'] = (t_end - t0) - untraced_wall
    m['write.self_s'] = t_end - t_built
    if 'components' in run_layers:
        m['components.self_s'] = sum(c['wall_s'] for c in probe.calls)
        m['components.converged'] = float(all(c['converged']
                                              for c in probe.calls))
    # lazy layers: noop-sink wall of each plan prefix
    prev = 0.0
    for layer, df in jobs.lazy_prefixes(spark, workload, in_dir):
        sc.setJobGroup(layer, layer)
        t = clock()
        df.write.format('noop').mode('overwrite').save()
        wall = clock() - t
        m[layer + '.self_s'] = wall - prev
        prev = wall
    if 'minhash' in run_layers:
        sc.setJobGroup('counts', 'counts')
        cand, verified, nodes = jobs.minhash_counts(spark, workload, in_dir)
        m['minhash.candidate_pairs'] = cand
        m['minhash.verified_pairs'] = verified
        m['minhash.verify_yield'] = verified / cand if cand else 0.0
        m['components.nodes'] = nodes
        m['components.edges'] = verified
    if 'extract' in run_layers:
        from dragnet_spark.model import default_model
        sample = gen.table_docs(seed, gen.KERNEL_SAMPLE_DOCS)
        m.update(layers.kernel_trace(
            sample, jobs.AMPLIFICATION['extract'], default_model()))
    return m


def per_layer_metrics(trace, log_dir, workload):
    """Every per-layer metric; a layer the workload does not run is 0."""
    groups = layers.event_log_layers(log_dir)
    out = {}
    lazy = [layer for layer in jobs.WORKLOAD_LAYERS[workload]
            if layer not in ('components', 'write')]
    for layer in jobs.LAYERS:
        acc = dict(groups.get(layer) or layers.empty_counters())
        if layer in lazy and lazy.index(layer) > 0:
            # a prefix re-runs the layers before it: keep the difference
            before = groups.get(lazy[lazy.index(layer) - 1]) or {}
            for k in acc:
                acc[k] -= before.get(k, 0)
        acc['self_s'] = trace.get(layer + '.self_s', 0.0)
        for field in layers.SPARK_FIELDS:
            out['%s.%s' % (layer, field)] = acc.get(field, 0.0)
    for name in layers.KERNEL_STEPS:
        for q in ('p50', 'p99'):
            key = '%s_us.%s' % (name, q)
            out[key] = trace.get(key, 0.0)
    for key in ('extract.blocks_per_doc', 'minhash.candidate_pairs',
                'minhash.verified_pairs', 'minhash.verify_yield',
                'components.nodes', 'components.edges',
                'components.converged', 'trace_overhead_s'):
        out[key] = trace.get(key, 0.0)
    return out


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), required=True)
    p.add_argument('--work', required=True)
    p.add_argument('--t0', type=float, required=True,
                   help='wall-clock time the run was launched')
    a = p.parse_args(argv)

    tracing = a.trace == 1
    in_dir = os.path.join(a.work, 'input')
    docs = gen.workload_docs(a.workload, a.seed)
    n_docs = len(docs) * jobs.AMPLIFICATION.get(a.workload, 1)
    spark = session(a.work, a.workload, tracing=False)
    out_root = os.path.join(a.work, 'out')
    try:
        warm_up(spark, a.workload, a.work)
        setup_s = time.time() - a.t0

        token = os.environ[procs.TOKEN_VAR]
        walls, rss, digests, failed, attempted = [], [], [], 0, 0
        t_begin = clock()
        while True:
            out_dir = os.path.join(out_root, 'exec%d' % attempted)
            attempted += 1
            procs.reset_hwm(procs.tagged_pids(token) + [os.getpid()])
            t0 = clock()
            try:
                jobs.run(spark, a.workload, in_dir, out_dir)
                walls.append(clock() - t0)
                rss.append(procs.hwm_mb(procs.tagged_pids(token)
                                        + [os.getpid()]))
            except Exception:
                failed += 1
                log('execution failed:\n' + traceback.format_exc())
            else:
                spark.sparkContext.setJobGroup('check', 'check')
                digests.append((out_dir, tuple(
                    digest(spark, os.path.join(out_dir, name))
                    for name in sorted(os.listdir(out_dir)))))
                if len(digests) > 1:  # keep the first output for the checks
                    shutil.rmtree(out_dir)
            if (clock() - t_begin >= a.seconds
                    and attempted >= jobs.MIN_EXECUTIONS):
                break

        errors, quality = [], {}
        if digests:
            errors, quality = check_outputs(
                spark, a.workload, docs,
                load_outputs(a.workload, digests[0][0]), a.seed)
            failed += bool(errors)  # the first execution's output is wrong
            mismatched = sum(d != digests[0][1] for _, d in digests[1:])
            if mismatched:
                errors.append('%d executions wrote other rows than the '
                              'first' % mismatched)
                failed += mismatched
        for e in errors:
            log('CHECK FAILED: ' + e)
    finally:
        stop_session(spark)
    trace = None
    if tracing and walls:
        spark = session(a.work, a.workload, tracing=True)
        try:
            trace = traced_layers(spark, a.workload, in_dir, a.work,
                                  statistics.median(walls), a.seed)
        finally:
            stop_session(spark)

    # with no execution completed the run is incorrect; its times read 0
    wall_s = statistics.median(walls) if walls else 0.0
    e2e = {
        'setup_s': (setup_s, 's'),
        'wall_s': (wall_s, 's'),
        'docs_per_s': (n_docs / wall_s if walls else 0.0, 'docs/s'),
    }
    # reported per run but not bounded: it steps by a whole Python worker
    # (~130 MB) with the size of the worker pool each run ends up with
    peak_rss_mb = statistics.median(rss) if rss else 0.0
    report = dict(e2e, peak_rss_mb=(peak_rss_mb, 'MB'))
    report['failed_frac'] = (failed / attempted, 'ratio')
    if 'content_token_f1' in quality:
        report['content_token_f1'] = (quality['content_token_f1'], 'ratio')
        report['error_doc_frac'] = (quality['error_doc_frac'], 'ratio')
    log('%s seed %d: %s; wall_s is the median of %d executions %s, '
        'peak_rss_mb of %s' % (
            a.workload, a.seed,
            ', '.join('%s=%.6g %s' % (k, v, u) for k, (v, u) in report.items()),
            len(walls), ['%.3f' % w for w in walls], ['%.0f' % r for r in rss]))
    if tracing:
        metrics = {}
        if trace is not None:
            per_layer = per_layer_metrics(trace, os.path.join(a.work, 'eventlog'),
                                          a.workload)
            per_layer['process_tree.peak_rss_mb'] = peak_rss_mb
            metrics = {k: {'value': float(v), 'unit': unit_of(k)}
                       for k, v in per_layer.items()}
    else:
        metrics = {k: {'value': v, 'unit': u} for k, (v, u) in e2e.items()}
    correct = not errors and failed == 0 and bool(walls)
    print(json.dumps({'correct': correct, 'attempted': attempted,
                      'failed': failed, 'metrics': metrics}))
    return 0 if correct else 1


def unit_of(name):
    if name.endswith(('_us.p50', '_us.p99')):
        return 'us'
    if name.endswith('_s'):
        return 's'
    if name.endswith('_mb'):
        return 'MB'
    if name.endswith(('verify_yield', 'converged')):
        return 'ratio'
    return 'count'


if __name__ == '__main__':
    sys.exit(main())

"""Per-layer measurement from outside the program.

* :func:`kernel_trace` times single-threaded calls, in this process, to
  the public functions of each extraction kernel on a seeded sample.
* :func:`event_log_layers` reads Spark's own event log and sums task
  metrics per job group; the benchmark sets one job group per layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from checks import span_docs

KERNEL_STEPS = ('synthesis.make_document', 'htmlparse.parse_html',
                'blocks.blocks_from_tree', 'features.compute',
                'model.predict', 'extract.process_document')
SPARK_FIELDS = ('self_s', 'jobs', 'tasks', 'executor_cpu_s', 'gc_s',
                'shuffle_write_mb', 'shuffle_read_mb', 'python_in_mb',
                'python_out_mb')

# SQL metric names of the Arrow Python operators (MapInArrow and kin)
_PY_SENT = 'data sent to Python workers'
_PY_RETURNED = 'data returned from Python workers'


def _pct(values, q):
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def kernel_trace(docs, amplification, model):
    """p50/p99 microseconds per document for each kernel step over the
    span documents of ``docs`` (``(doc_id, text)`` pairs), plus the mean
    block count.  Steps are timed separately, each over the whole
    sample, so no timer sits inside another one's interval."""
    from dragnet_spark.kernels.blocks import RE_TEXT, blocks_from_tree
    from dragnet_spark.kernels.features import compute
    from dragnet_spark.kernels.htmlparse import parse_html
    from dragnet_spark.operators.extract import process_document, split_runs
    from dragnet_spark.sources.synthesis import make_document

    clock = time.perf_counter
    samples = {name: [] for name in KERNEL_STEPS}
    sample = span_docs(docs, amplification)
    for sid, text, _ in sample:
        t0 = clock()
        make_document(sid, text)
        samples['synthesis.make_document'].append(clock() - t0)
    n_blocks = []
    for _, _, spans in sample:
        htmls = [''.join(s['text'] for s in run)
                 for kind, run in split_runs(spans) if kind == 'text']
        trees, blocks = [], []
        t0 = clock()
        for html in htmls:
            trees.append(parse_html(html))
        samples['htmlparse.parse_html'].append(clock() - t0)
        t0, base = clock(), 0
        for tree in trees:
            found, base = blocks_from_tree(tree, True, False, True, base)
            blocks.extend(b for b in found if RE_TEXT.search(b.text))
        samples['blocks.blocks_from_tree'].append(clock() - t0)
        n_blocks.append(len(blocks))
        if len(blocks) < 3:  # compute() rejects these; so does extraction
            continue
        t0 = clock()
        mat = compute(blocks)
        samples['features.compute'].append(clock() - t0)
        t0 = clock()
        model.predict(mat)
        samples['model.predict'].append(clock() - t0)
    for _, _, spans in sample:
        t0 = clock()
        process_document(spans, model)
        samples['extract.process_document'].append(clock() - t0)
    out = {}
    for name, values in samples.items():
        out[name + '_us.p50'] = _pct(values, 0.50) * 1e6
        out[name + '_us.p99'] = _pct(values, 0.99) * 1e6
    out['extract.blocks_per_doc'] = statistics.fmean(n_blocks)
    return out


def event_log_layers(log_dir):
    """Sum task metrics per job group over every event log in
    ``log_dir``: ``{group: {jobs, tasks, executor_cpu_s, gc_s,
    shuffle_write_mb, shuffle_read_mb, python_in_mb, python_out_mb}}``."""
    stage_group, out = {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, '*'))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get('Event')
                if kind == 'SparkListenerJobStart':
                    group = (ev.get('Properties') or {}).get('spark.jobGroup.id')
                    if group is None:
                        continue
                    acc = out.setdefault(group, empty_counters())
                    acc['jobs'] += 1
                    for sid in ev.get('Stage IDs', ()):
                        stage_group[sid] = group
                elif kind == 'SparkListenerTaskEnd':
                    group = stage_group.get(ev.get('Stage ID'))
                    if group is not None:
                        _add_task(out[group], ev)
    return out


def empty_counters():
    return {'jobs': 0, 'tasks': 0, 'executor_cpu_s': 0.0, 'gc_s': 0.0,
            'shuffle_write_mb': 0.0, 'shuffle_read_mb': 0.0,
            'python_in_mb': 0.0, 'python_out_mb': 0.0}


def _add_task(acc, ev):
    acc['tasks'] += 1
    m = ev.get('Task Metrics') or {}
    acc['executor_cpu_s'] += m.get('Executor CPU Time', 0) / 1e9
    acc['gc_s'] += m.get('JVM GC Time', 0) / 1e3
    w = m.get('Shuffle Write Metrics') or {}
    acc['shuffle_write_mb'] += w.get('Shuffle Bytes Written', 0) / 2 ** 20
    r = m.get('Shuffle Read Metrics') or {}
    acc['shuffle_read_mb'] += (r.get('Remote Bytes Read', 0)
                               + r.get('Local Bytes Read', 0)) / 2 ** 20
    for a in (ev.get('Task Info') or {}).get('Accumulables', ()):
        if a.get('Name') == _PY_SENT:
            acc['python_in_mb'] += float(a.get('Update', 0)) / 2 ** 20
        elif a.get('Name') == _PY_RETURNED:
            acc['python_out_mb'] += float(a.get('Update', 0)) / 2 ** 20

"""The benchmark's own tests: inputs are seeded, every output check
accepts the unchanged program and rejects a corrupted result, and a run
leaves no process behind, also when it is killed by its timeout.

    python3 -m pytest perfbench/tests -q        # from the repository root
"""

import json
import os
import shutil
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import jobs  # noqa: E402
import procs  # noqa: E402
import worker  # noqa: E402

WORK = os.path.join(HERE, 'work', 'tests-%d' % os.getpid())
WORKLOADS = ('extract', 'funnel', 'dedup_skew')
with open(os.path.join(ROOT, 'BENCHMARK.json')) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope='module')
def spark():
    os.environ['PYTHONPATH'] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get('PYTHONPATH')] if p])
    os.makedirs(os.path.join(WORK, 'tmp'), exist_ok=True)
    session = worker.session(WORK, 'tests', tracing=False)
    yield session
    worker.stop_session(session)
    shutil.rmtree(WORK, ignore_errors=True)


_RUNS = {}


def tiny_run(spark, workload, seed):
    """Inputs and outputs of one tiny execution (cached per module)."""
    key = (workload, seed)
    if key not in _RUNS:
        docs = gen.workload_docs(workload, seed, 'tiny')
        base = os.path.join(WORK, '%s-%d' % key)
        gen.write_docs(docs, os.path.join(base, 'in'), 2)
        jobs.run(spark, workload, os.path.join(base, 'in'),
                 os.path.join(base, 'out'))
        _RUNS[key] = docs, worker.load_outputs(workload,
                                               os.path.join(base, 'out'))
    return _RUNS[key]


def edited(table, fn):
    return pa.Table.from_pylist(fn(table.to_pylist()), schema=table.schema)


def check(spark, workload, docs, outputs, seed=1):
    return worker.check_outputs(spark, workload, docs, outputs, seed)[0]


def test_inputs_are_seeded():
    for workload in WORKLOADS:
        assert (gen.workload_docs(workload, 7, 'tiny')
                == gen.workload_docs(workload, 7, 'tiny'))
        assert (gen.workload_docs(workload, 7, 'tiny')
                != gen.workload_docs(workload, 8, 'tiny'))


def test_extract_inputs_follow_the_documents_table():
    docs = gen.table_docs(1, 2000)
    own = [t.split() for _, t in docs if not t.endswith(' dup')]
    assert min(map(len, own)) == 10 and max(map(len, own)) == 99
    assert {w for words in own for w in words} == set(gen.VOCAB)
    assert 0.03 < 1 - len(own) / len(docs) < 0.07
    assert not any('.' in t for _, t in docs)


def test_skew_families_exceed_the_bucket_cap():
    from dragnet_spark.operators.dedup import BUCKET_CAP
    size = gen.SIZES['dedup_skew']['full']
    sizes = gen.family_sizes(size['docs'], size['top_family'])
    assert sizes[0] > BUCKET_CAP and len(sizes) > 10
    docs = gen.skew_docs(1, size['docs'], size['top_family'])
    assert len(docs) == size['docs']


@pytest.mark.parametrize('seed', [1, 2])
@pytest.mark.parametrize('workload', WORKLOADS)
def test_checks_accept_the_unchanged_program(spark, workload, seed):
    docs, outputs = tiny_run(spark, workload, seed)
    assert check(spark, workload, docs, outputs, seed) == []


def test_extract_checks_reject_corruption(spark):
    docs, out = tiny_run(spark, 'extract', 1)
    table = out['extracted']
    dropped = {'extracted': table.slice(1)}
    assert check(spark, 'extract', docs, dropped)

    def to_error(rows):
        rows[0]['status'] = 'error'
        return rows
    assert check(spark, 'extract', docs,
                 {'extracted': edited(table, to_error)})

    def retext(rows):
        for r in rows:
            r['content_text'] += ' extra'
        return rows
    assert check(spark, 'extract', docs, {'extracted': edited(table, retext)})


@pytest.mark.parametrize('workload', ('funnel', 'dedup_skew'))
def test_curation_checks_reject_corruption(spark, workload):
    docs, out = tiny_run(spark, workload, 1)
    verdicts, curated = out['verdicts'], out['curated']

    def run_with(**tables):
        return check(spark, workload, docs, dict(out, **tables))

    assert run_with(verdicts=verdicts.slice(1))        # a dropped row
    assert run_with(curated=curated.slice(1))

    def flip_gate(rows):
        rows[0]['passes_quality'] = 1 - rows[0]['passes_quality']
        return rows
    assert run_with(verdicts=edited(verdicts, flip_gate))

    def flip_cluster(rows):
        # move one member of a multi-member cluster into its own cluster
        sizes = {}
        for r in rows:
            sizes[r['cluster_id']] = sizes.get(r['cluster_id'], 0) + 1
        r = next(r for r in rows if r['cluster_id'] is not None
                 and sizes[r['cluster_id']] > 1 and r['doc_id'] != r['cluster_id'])
        r['cluster_id'] = r['doc_id']
        return rows
    assert run_with(verdicts=edited(verdicts, flip_cluster))


def test_digest_is_order_free_and_sees_a_dropped_row(spark):
    _, out = tiny_run(spark, 'dedup_skew', 1)
    table = out['verdicts']
    paths = {}
    for name, t in (('same', table), ('reversed', table.take(
            list(range(table.num_rows - 1, -1, -1)))), ('dropped', table.slice(1))):
        paths[name] = os.path.join(WORK, 'digest', name)
        os.makedirs(paths[name], exist_ok=True)
        pq.write_table(t, os.path.join(paths[name], 'part-0.parquet'))
    d = {k: worker.digest(spark, p) for k, p in paths.items()}
    assert d['same'] == d['reversed'] != d['dropped']


def test_union_find_takes_the_component_minimum():
    labels = checks.union_find_labels([1, 2, 3, 4, 5], [(3, 2), (2, 5), (4, 4)])
    assert labels == {1: 1, 2: 2, 3: 2, 4: 4, 5: 2}


def _bench(args, cwd=ROOT, timeout=170):
    token = uuid.uuid4().hex
    env = dict(os.environ, **{procs.TOKEN_VAR: token})
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, 'run.py')] + args, cwd=cwd, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=timeout)
    return proc, procs.tagged_pids(token)


def test_run_prints_every_end_to_end_metric_and_stops_its_processes():
    proc, left = _bench(['--workload', 'extract', '--seed', '3', '--seconds',
                         '1', '--trace', '0'])
    assert left == []
    assert proc.returncode == 0
    result = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert result['correct'] and result['failed'] == 0
    assert result['attempted'] >= 1
    assert set(result['metrics']) == {m['name'] for m in SPEC['end_to_end']}
    for m in SPEC['end_to_end']:
        assert result['metrics'][m['name']]['unit'] == m['unit']
        assert result['metrics'][m['name']]['value'] > 0


def test_traced_run_prints_every_per_layer_metric():
    proc, left = _bench(['--workload', 'dedup_skew', '--seed', '3',
                         '--seconds', '1', '--trace', '1'], timeout=200)
    assert left == []
    assert proc.returncode == 0
    result = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert result['correct']
    assert set(result['metrics']) == {m['name'] for m in SPEC['per_layer']}
    for m in SPEC['per_layer']:
        assert result['metrics'][m['name']]['unit'] == m['unit']
    assert result['metrics']['components.converged']['value'] == 1.0
    assert result['metrics']['components.jobs']['value'] > 0


def test_timeout_kills_every_process():
    proc, left = _bench(['--workload', 'funnel', '--seed', '3', '--seconds',
                         '1', '--trace', '0',
                         '--timeout', '15'])
    assert left == []
    assert proc.returncode != 0
    assert proc.stdout.strip() == b''


def test_fails_without_the_program():
    bare = os.path.join(WORK, 'bare')
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, 'perfbench'),
                    ignore=shutil.ignore_patterns('work', '__pycache__'))
    shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), bare)
    proc, left = _bench(['--workload', 'extract', '--seed', '1', '--seconds',
                         '1', '--trace', '0'], cwd=bare, timeout=60)
    assert left == []
    assert proc.returncode != 0
    assert proc.stdout.strip() == b''

"""Whole-job benchmark of dragnet-spark: extraction and curation.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root.  Writes the seeded inputs under
``perfbench/work/``, then runs the workload in a worker process that
starts its own process group (``worker.py``).  Every process the run
starts (worker, JVM, ``pyspark.daemon`` and its Python workers) carries
a run token in its environment; after the worker exits, on error, or
on timeout, all of them are stopped, and the run fails if any
survives.  The last line of stdout is the worker's JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402

WORKLOADS = ('extract', 'funnel', 'dedup_skew')
RESULT_KEYS = {'correct', 'attempted', 'failed', 'metrics'}


def log(msg):
    print('[perfbench] %s' % msg, file=sys.stderr, flush=True)


def prepare(work, workload, seed, n_files):
    """Write the measured and the warm-up inputs; nothing is timed yet."""
    for sub, warm in (('input', False), ('warm', True)):
        gen.write_docs(gen.workload_docs(workload, seed, warm=warm),
                       os.path.join(work, sub), n_files)
    os.makedirs(os.path.join(work, 'tmp'))


def _die_with_parent():
    """Runs in the worker before exec: SIGKILL it if this process dies."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run()'s clean-up


def run(args, root):
    t0 = time.time()
    token = os.environ.get(procs.TOKEN_VAR) or uuid.uuid4().hex
    work = os.path.join(HERE, 'work', '%s-s%d-%d' % (args.workload, args.seed,
                                                     os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    n_files = len(os.sched_getaffinity(0))
    prepare(work, args.workload, args.seed, n_files)
    env = dict(os.environ)
    env.update({
        procs.TOKEN_VAR: token,
        'PYTHONPATH': os.pathsep.join(
            [root] + [p for p in [env.get('PYTHONPATH')] if p]),
        'PYSPARK_PYTHON': sys.executable,
        'PYSPARK_DRIVER_PYTHON': sys.executable,
        'TMPDIR': os.path.join(work, 'tmp'),
        # every JVM, spark-submit's launcher included, keeps off /tmp
        'JAVA_TOOL_OPTIONS': '-XX:-UsePerfData -Djava.io.tmpdir=%s'
                             % os.path.join(work, 'tmp'),
    })
    cmd = [sys.executable, os.path.join(HERE, 'worker.py'),
           '--workload', args.workload, '--seed', str(args.seed),
           '--seconds', str(args.seconds), '--trace', str(args.trace),
           '--work', work, '--t0', repr(t0)]
    signal.signal(signal.SIGTERM, _terminate)
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            start_new_session=True,
                            preexec_fn=_die_with_parent)
    out, code = b'', None
    try:
        out, _ = proc.communicate(timeout=max(1.0, args.timeout
                                              - (time.time() - t0)))
        code = proc.returncode
    except subprocess.TimeoutExpired:
        log('timeout after %.0f s: stopping the run' % args.timeout)
    finally:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        stubborn = procs.kill_tagged(token)
        if stubborn:
            log('stopped processes left running: %s'
                % ', '.join(str(p) for p in stubborn))
        shutil.rmtree(work, ignore_errors=True)
    leftover = procs.tagged_pids(token)
    if leftover:
        log('processes still alive: %s' % leftover)
        return 3
    if code is None:
        return 2
    lines = out.decode(errors='replace').strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        log('worker exited %s without a result' % code)
        return code or 2
    if set(result) != RESULT_KEYS:
        log('malformed result: %s' % lines[-1])
        return 2
    print(json.dumps(result), flush=True)
    return code


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    p.add_argument('--workload', required=True, choices=WORKLOADS)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--timeout', type=float, default=165.0,
                   help='seconds before the whole run is killed')
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, 'dragnet_spark')):
        log('no dragnet_spark package under %s: run from the repository root'
            % root)
        return 2
    return run(args, root)


if __name__ == '__main__':
    sys.exit(main())

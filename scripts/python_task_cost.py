"""Fixed cost of one PySpark Python task on this installation.

Prints one JSON line:

* ``wall_s`` / ``per_task_ms``: the median wall of a trivial
  pass-through ``mapInArrow`` over ``ROWS`` rows split into 1x, 4x and
  16x the session's cores, and that wall per wave of ``cores``
  concurrent tasks (the per-task wall); ``marginal_task_ms`` is the
  slope between 1x and 16x, i.e. the per-task cost without the job's
  own fixed overhead;
* ``invalidate_caches_ms``: the time ``importlib.invalidate_caches()``
  takes inside a Python task (median and max over every task and
  call), with the number of zipimporters it walks -- the call that
  ``sources.synthesis._spread_docs`` names as the fixed per-task cost.

Re-run this after a pyspark or Python upgrade: ``_spread_docs``'s one
task per core rests on that cost.  Nothing in pyspark is patched, and
the session is ``local[cores]`` (at most the host's cores), so no more
Python workers than cores are started.

Usage::

    python scripts/python_task_cost.py [cores] [reps]
"""

import importlib
import json
import os
import platform
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = 8000
MULTIPLIERS = (1, 4, 16)
CALLS_PER_TASK = 3


def _passthrough(batches):
    yield from batches


def _time_invalidate_caches(batches):
    import pyarrow as pa
    n_zip = sum(type(f).__name__ == 'zipimporter'
                for f in sys.path_importer_cache.values())
    for rb in batches:
        ms = []
        for _ in range(rb.num_rows * CALLS_PER_TASK):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms.append(1000 * (time.perf_counter() - t0))
        yield pa.RecordBatch.from_pydict(
            {'ms': ms, 'zipimporters': [n_zip] * len(ms)})


def _wall(spark, tasks):
    t0 = time.perf_counter()
    (spark.range(0, ROWS, 1, tasks)
     .mapInArrow(_passthrough, 'id long')
     .write.format('noop').mode('overwrite').save())
    return time.perf_counter() - t0


def main(cores=None, reps=3):
    import pyspark

    from dragnet_spark.plans.session import get_spark

    cores = min(int(cores or os.cpu_count()), os.cpu_count())
    reps = int(reps)
    spark = get_spark('python-task-cost', cores=cores)
    try:
        _wall(spark, cores)  # warm: daemon fork + first imports
        wall = {m: statistics.median(_wall(spark, m * cores)
                                     for _ in range(reps))
                for m in MULTIPLIERS}
        rows = (spark.range(0, cores, 1, cores)
                .mapInArrow(_time_invalidate_caches,
                            'ms double, zipimporters long')
                .collect())
    finally:
        spark.stop()
    ms = [r.ms for r in rows]
    lo, hi = MULTIPLIERS[0], MULTIPLIERS[-1]
    print(json.dumps({
        'cores': cores, 'rows': ROWS, 'reps': reps,
        'python': platform.python_version(), 'pyspark': pyspark.__version__,
        'wall_s': {str(m): round(w, 3) for m, w in wall.items()},
        'per_task_ms': {str(m): round(1000 * w / m, 1)
                        for m, w in wall.items()},
        'marginal_task_ms': round(
            1000 * (wall[hi] - wall[lo]) / (hi - lo), 1),
        'invalidate_caches_ms': {'median': round(statistics.median(ms), 1),
                                 'max': round(max(ms), 1)},
        'zipimporters': max(r.zipimporters for r in rows),
    }))


if __name__ == '__main__':
    main(*sys.argv[1:])

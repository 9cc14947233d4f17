"""The three batch jobs, built only from the library's public entry
points, and the plan prefixes the traced run times layer by layer.

``extract``     synthesize_and_extract -> parquet (doc_id, spans, content_text, status)
``funnel``      synthesize_and_extract -> status ok -> curate_corpus -> curated + verdicts
``dedup_skew``  documents -> curate_corpus -> curated + verdicts
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from dragnet_spark.operators import components
from dragnet_spark.operators.curation import curate_corpus
from dragnet_spark.operators.dedup import (minhash_candidates,
                                           minhash_near_duplicates)
from dragnet_spark.operators.text_analysis import (
    gopher_quality_flags, gopher_repetition_flags_rowwise)
from dragnet_spark.sources.synthesis import synthesize_and_extract

DEDUP_THRESHOLD = 0.7
MAX_DUP10 = 0.6
AMPLIFICATION = {'extract': 4, 'funnel': 2}
# untimed executions inside set-up: until the wall of the next one
# stops falling (JIT, Python worker pool) on a 4-core host
WARM_EXECUTIONS = {'extract': 2, 'funnel': 2, 'dedup_skew': 1}
# timed executions per run, however short --seconds is
MIN_EXECUTIONS = 2
# Spark layers in plan order; a workload runs a prefix-closed subset
LAYERS = ('scan', 'extract', 'gates', 'minhash', 'components', 'write')
WORKLOAD_LAYERS = {
    'extract': ('scan', 'extract', 'write'),
    'funnel': ('scan', 'extract', 'gates', 'minhash', 'components', 'write'),
    'dedup_skew': ('scan', 'gates', 'minhash', 'components', 'write'),
}


def nproc():
    return len(os.sched_getaffinity(0))


def _docs(spark, in_dir):
    return spark.read.parquet(os.path.join(in_dir, 'documents.parquet'))


def _extracted(spark, in_dir, workload):
    return synthesize_and_extract(spark, in_dir,
                                  amplification=AMPLIFICATION[workload])


def _curation_input(spark, in_dir, workload):
    if workload == 'funnel':
        return (_extracted(spark, in_dir, workload)
                .where(F.col('status') == 'ok')
                .select('doc_id', F.col('content_text').alias('text')))
    return _docs(spark, in_dir).select('doc_id', 'text')


def build(spark, workload, in_dir):
    """The job's output DataFrames by sink name.  For the curation jobs
    this runs the components fixpoint, which is eager."""
    if workload == 'extract':
        return {'extracted': _extracted(spark, in_dir, workload)}
    curated, verdicts = curate_corpus(
        _curation_input(spark, in_dir, workload),
        dedup_threshold=DEDUP_THRESHOLD, max_dup10=MAX_DUP10)
    return {'curated': curated, 'verdicts': verdicts}


def write(frames, out_dir):
    for name, df in frames.items():
        df.write.mode('overwrite').parquet(os.path.join(out_dir, name))


def run(spark, workload, in_dir, out_dir):
    """One whole job: DataFrame build -> last row written."""
    write(build(spark, workload, in_dir), out_dir)


# -- the traced run's plan prefixes -----------------------------------------


def _gated(base):
    """The gate composition of ``curate_corpus``, rebuilt from the same
    public gate functions."""
    quality = (gopher_quality_flags(base, keep_cols=('text',))
               .select('doc_id', 'text', F.col('passes').alias('pq')))
    repetition = (gopher_repetition_flags_rowwise(base, max_dup10=MAX_DUP10)
                  .select('doc_id', F.col('passes_repetition').alias('pr')))
    return quality.join(repetition, 'doc_id')


def survivors(gated):
    return (gated.where((F.col('pq') == 1) & (F.col('pr') == 1))
            .select('doc_id', 'text'))


def lazy_prefixes(spark, workload, in_dir):
    """``[(layer, DataFrame)]``: for each lazy layer before components,
    the plan that ends at it.  Its self time is its prefix's noop-sink
    wall minus that of the prefix before it."""
    out = [('scan', _docs(spark, in_dir).select('doc_id', 'text'))]
    if workload in ('extract', 'funnel'):
        out.append(('extract', _extracted(spark, in_dir, workload)))
    if workload == 'extract':
        return out
    gated = _gated(_curation_input(spark, in_dir, workload))
    out.append(('gates', gated))
    out.append(('minhash', minhash_near_duplicates(
        survivors(gated), threshold=DEDUP_THRESHOLD)))
    return out


def minhash_counts(spark, workload, in_dir):
    """(candidate pairs, verified pairs, surviving nodes) of the dedup
    step inside ``curate_corpus``."""
    surv = survivors(_gated(_curation_input(spark, in_dir, workload)))
    cand = minhash_candidates(surv).count()
    verified = minhash_near_duplicates(surv, threshold=DEDUP_THRESHOLD).count()
    return cand, verified, surv.count()


class ComponentsProbe:
    """Wraps ``components.propagate_min_labels`` while active: each call
    runs in the ``components`` job group and records its wall, the edge
    count it was given and the ``converged`` flag."""

    def __init__(self, spark, clock, outer_group):
        self.sc = spark.sparkContext
        self.clock = clock
        self.outer_group = outer_group
        self.calls = []
        self._orig = components.propagate_min_labels

    def __enter__(self):
        orig = self._orig

        def traced(nodes, edges, *args, **kwargs):
            self.sc.setJobGroup('components', 'components')
            t0 = self.clock()
            try:
                labels, converged = orig(nodes, edges, *args, **kwargs)
            finally:
                wall = self.clock() - t0
                self.sc.setJobGroup(self.outer_group, self.outer_group)
            self.calls.append({'wall_s': wall, 'converged': converged})
            return labels, converged

        components.propagate_min_labels = traced
        return self

    def __exit__(self, *exc):
        components.propagate_min_labels = self._orig
        return False

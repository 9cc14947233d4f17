"""End-to-end corpus curation: the pipeline the engine exists to run.

``curate_corpus`` composes the library's stages into the standard
LLM-training-data flow over an extracted corpus:

    extracted text -> Gopher quality gate -> Gopher repetition gate
                   -> MinHash near-dup cluster assignment
                   -> canonical-only corpus

Every stage is the library operator (individually oracle- or
golden-checked); this module only wires them, so the composition
inherits each stage's scale shape: both gates are one narrow Arrow
stage (``gopher_gates``), dedup is the chain-capped LSH + distributed
connected components path, and nothing touches the driver.

``__spark_entry__.training_corpus_funnel`` is the driver-checked
funnel view of this composition.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .dedup import duplicate_cluster_assignments
from .text_analysis import (GOPHER_MAX_DUP10GRAM_FRAC,
                            GOPHER_MAX_TOP2GRAM_FRAC, gopher_gates)


def gate_funnel(docs, text_col='text', id_col='doc_id',
                max_top2=GOPHER_MAX_TOP2GRAM_FRAC,
                max_dup10=GOPHER_MAX_DUP10GRAM_FRAC):
    """Per-stage survivor counts of the curation GATES alone: one row
    ``(n_total, n_quality_pass, n_repetition_pass, n_both_pass)``.

    The oracle-checkable prefix of :func:`curate_corpus` -- both gates
    are per-document counts and int/int ratios, so DuckDB can
    re-derive the exact counts (``curation_gates`` in
    ``__spark_entry__``), pinning the funnel arithmetic that the full
    pipeline (extraction + MinHash in the loop) can only rows-check.
    Same gate stage as curate_corpus (:func:`gopher_gates`), then one
    global agg of four longs.
    """
    base = docs.select(F.col(id_col).alias('doc_id'),
                       F.col(text_col).alias('text'))
    pq = F.col('passes_quality')
    pr = F.col('passes_repetition')
    return gopher_gates(base, max_top2, max_dup10).agg(
        F.count('*').alias('n_total'),
        F.sum(pq).alias('n_quality_pass'),
        F.sum(pr).alias('n_repetition_pass'),
        F.sum(((pq == 1) & (pr == 1)).cast('long')).alias('n_both_pass'))


def curate_corpus(docs, text_col='text', id_col='doc_id',
                  dedup_threshold=0.9,
                  max_top2=GOPHER_MAX_TOP2GRAM_FRAC,
                  max_dup10=GOPHER_MAX_DUP10GRAM_FRAC):
    """(doc_id, text, ...) -> the curated corpus plus per-doc verdicts.

    Returns ``(curated_df, verdicts_df)``:

    * ``curated_df`` -- the rows that pass both Gopher gates AND are
      their near-dup cluster's canonical member (input columns
      preserved).
    * ``verdicts_df`` -- one row per input doc with the full decision
      trail ``(doc_id, passes_quality, passes_repetition, cluster_id,
      is_canonical, kept)`` for auditing what was dropped and why --
      a curation pass that cannot explain its drops is not a pipeline,
      it's a lossy copy.

    Thresholds are parameters because corpus statistics move them (the
    synthetic corpus needs a scaled ``max_dup10``; see the funnel
    query's note).

    The gates run once: their thin verdicts ``(doc_id,
    passes_quality, passes_repetition)`` are materialized by one eager
    ``localCheckpoint`` (never the text), and every consumer reads
    that -- the survivors (``docs`` left-semi-joined to the passing
    ids) that feed the MinHash pair plan and the components node set,
    ``verdicts`` and ``curated`` -- so none of them re-runs the gates'
    Arrow stage.
    """
    base = docs.select(F.col(id_col).alias('doc_id'),
                       F.col(text_col).alias('text'))
    gates = (gopher_gates(base, max_top2, max_dup10)
             .select('doc_id', 'passes_quality', 'passes_repetition')
             .localCheckpoint(eager=True))
    passing = (gates.where((F.col('passes_quality') == 1)
                           & (F.col('passes_repetition') == 1))
               .select('doc_id'))
    survivors = base.join(passing, 'doc_id', 'left_semi')
    assigned = duplicate_cluster_assignments(survivors,
                                             threshold=dedup_threshold)
    verdicts = (gates.join(assigned, 'doc_id', 'left')
                .withColumn('kept',
                            (F.coalesce('is_canonical', F.lit(0)) == 1)
                            .cast('long')))
    kept_ids = (verdicts.where(F.col('kept') == 1)
                .select(F.col('doc_id').alias(id_col)))
    curated = docs.join(kept_ids, id_col, 'left_semi')
    return curated, verdicts

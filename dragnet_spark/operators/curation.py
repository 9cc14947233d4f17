"""End-to-end corpus curation: the pipeline the engine exists to run.

``curate_corpus`` composes the library's stages into the standard
LLM-training-data flow over an extracted corpus:

    extracted text -> Gopher quality gate -> Gopher repetition gate
                   -> MinHash near-dup cluster assignment
                   -> canonical-only corpus

Every stage is the library operator (individually oracle- or
golden-checked); this module only wires them, so the composition
inherits each stage's scale shape: both gates and the MinHash shingles
are one narrow Arrow stage, dedup is the chain-capped LSH + distributed
connected components path, and nothing touches the driver.

``__spark_entry__.training_corpus_funnel`` is the driver-checked
funnel view of this composition.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .dedup import cluster_assignments_from_pairs, shingle_near_duplicates
from .text_analysis import (GOPHER_MAX_DUP10GRAM_FRAC,
                            GOPHER_MAX_TOP2GRAM_FRAC, _counts_stage,
                            _gate_cols, gopher_gates)


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

    The documents cross into Python once: ONE counts stage yields both
    gates' counts and the MinHash shingles of the tokens the repetition
    gate already lowers, and one eager ``localCheckpoint`` holds
    ``(doc_id, passes_quality, passes_repetition, shingles)`` (shingles
    only on rows passing both gates; never the text).  The pair plan
    (``dedup.shingle_near_duplicates``), the components node set and
    thin projections for ``verdicts`` and ``curated`` all read it:
    storing the shingles is cheaper than re-reading and re-tokenizing
    the survivors for each of the pair plan's three shingle readers.
    """
    base = docs.select(F.col(id_col).alias('doc_id'),
                       F.col(text_col).alias('text'))
    both = (F.col('passes_quality') == 1) & (F.col('passes_repetition') == 1)
    gates = (_counts_stage(base, 'text', words=True, rep=True, shingles=True)
             .select('doc_id', '_shingles', *_gate_cols(max_top2, max_dup10))
             .select('doc_id', 'passes_quality', 'passes_repetition',
                     F.when(both, F.col('_shingles')).alias('shingles'))
             .localCheckpoint(eager=True))
    passing = (gates.where(F.col('shingles').isNotNull())
               .select('doc_id', 'shingles'))
    assigned = cluster_assignments_from_pairs(
        passing, shingle_near_duplicates(passing, dedup_threshold))
    verdicts = (gates.drop('shingles').join(assigned, 'doc_id', 'left')
                .withColumn('kept',
                            (F.coalesce('is_canonical', F.lit(0)) == 1)
                            .cast('long')))
    kept_ids = (verdicts.where(F.col('kept') == 1)
                .select(F.col('doc_id').alias(id_col)))
    curated = docs.join(kept_ids, id_col, 'left_semi')
    return curated, verdicts

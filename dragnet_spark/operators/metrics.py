"""Distributed evaluation metrics (SURVEY.md §2.6, E1-E2).

E1 block-level weighted accuracy/P/R/F1: one ``agg()`` of
``sum(weight * indicator)`` terms -- the sklearn call in
``model_training.py:19-48`` becomes four JVM-side conditional sums.

E2 token-level bag-of-words P/R/F1 (``util.py:66-114``): per-document
set intersection sizes via built-in array functions -- no UDF, no
explode-join shuffle; the whole metric is a narrow map + one final agg.

Both use the dialect-safe ASCII tokenizer pattern so DuckDB oracles can
replicate them exactly (Java vs RE2 ``\\W`` unicode semantics differ).
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..kernels.metrics import dameraulevenshtein
from .extract import map_doc_rows
from .text_analysis import tokens_col


def block_level_metrics(df, label_col='label', pred_col='pred',
                        weight_col='weight'):
    """Weighted accuracy/precision/recall/F1 over a blocks DataFrame."""
    lab = F.col(label_col)
    pred = F.col(pred_col)
    w = F.col(weight_col).cast('double')
    agg = df.agg(
        F.sum(F.when((lab == 1) & (pred == 1), w).otherwise(0.0)).alias('tp'),
        F.sum(F.when((lab == 0) & (pred == 1), w).otherwise(0.0)).alias('fp'),
        F.sum(F.when((lab == 1) & (pred == 0), w).otherwise(0.0)).alias('fn'),
        F.sum(F.when((lab == 0) & (pred == 0), w).otherwise(0.0)).alias('tn'),
    )
    return agg.select(
        ((F.col('tp') + F.col('tn'))
         / (F.col('tp') + F.col('fp') + F.col('fn') + F.col('tn'))
         ).alias('accuracy'),
        (F.col('tp') / F.greatest(F.col('tp') + F.col('fp'), F.lit(1e-300))
         ).alias('precision'),
        (F.col('tp') / F.greatest(F.col('tp') + F.col('fn'), F.lit(1e-300))
         ).alias('recall'),
        (2 * F.col('tp')
         / F.greatest(2 * F.col('tp') + F.col('fp') + F.col('fn'),
                      F.lit(1e-300))).alias('f1'),
    )


def token_f1_per_doc(df, pred_col='content_text', gold_col='content_text_gold'):
    """Per-document bag-of-words precision/recall/F1 columns.

    The three counts (intersection, |pred|, |gold|) are materialized
    behind an ``explode(array(1))`` collapse barrier before the ratio
    CASE WHENs: expressions inside conditional branches are excluded
    from codegen subexpression elimination, so the inline form
    re-tokenized both texts once per CASE branch (~17 ``split()``
    occurrences in the optimized plan; the r05 driver measured this
    query at 39 s vs ~3 s for the extraction it wraps).  Behind the
    barrier the counts are bound attributes computed once per row and
    the ratios are scalar arithmetic.
    """
    p = F.array_distinct(tokens_col(F.col(pred_col)))
    a = F.array_distinct(tokens_col(F.col(gold_col)))
    base = (df.select(
        'doc_id',
        F.size(F.array_intersect(p, a)).cast('double').alias('_tp'),
        F.size(p).cast('double').alias('_np'),
        F.size(a).cast('double').alias('_na'),
        F.explode(F.array(F.lit(1))).alias('_b'))
        .drop('_b'))
    return token_f1_from_counts(base)


def token_f1_from_counts(df, tp_col='_tp', np_col='_np', na_col='_na'):
    """Per-document P/R/F1 ratio columns from already-materialized
    (|p n a|, |p|, |a|) count columns -- the ratio arithmetic shared by
    the SQL tokenizer path and the fused python-counts path (the counts
    are exact integers either way, so the double ratios are
    bit-identical)."""
    tp = F.col(tp_col).cast('double')
    np_ = F.col(np_col).cast('double')
    na = F.col(na_col).cast('double')
    precision = F.when(np_ > 0, tp / np_).otherwise(0.0)
    recall = F.when(na > 0, tp / na).otherwise(0.0)
    f1 = F.when((precision + recall) > 0,
                2 * precision * recall / (precision + recall)).otherwise(0.0)
    return df.select(
        'doc_id',
        precision.alias('precision'),
        recall.alias('recall'),
        f1.alias('f1'),
    )


def evaluate_extracted_tokens(extracted_df, gold_df, max_tokens=2000):
    """E3 (model_training.py:51-74): per-doc token-set Jaccard (JVM-side)
    + Damerau-Levenshtein edit distance over token sequences (report-only
    metric; O(n*m) per doc, so sequences are capped and the kernel runs
    in one Arrow stage).  A null ``content_text`` scores as no tokens."""
    def text(df, name):
        return df.select('doc_id', F.coalesce('content_text', F.lit(''))
                         .alias(name))

    joined = text(extracted_df, 'content_text').join(
        text(gold_df, 'content_text_gold'), 'doc_id')
    p = F.array_distinct(tokens_col(F.col('content_text')))
    a = F.array_distinct(tokens_col(F.col('content_text_gold')))
    inter = F.size(F.array_intersect(p, a)).cast('double')
    union = F.size(F.array_union(p, a)).cast('double')
    with_jac = joined.select(
        'doc_id',
        F.when(union > 0, inter / union).otherwise(1.0).alias('jaccard'),
        F.slice(tokens_col(F.col('content_text')), 1, max_tokens).alias('_p'),
        F.slice(tokens_col(F.col('content_text_gold')), 1, max_tokens)
        .alias('_a'))
    schema = pa.schema([
        ('doc_id', to_arrow_type(extracted_df.schema['doc_id'].dataType)),
        ('jaccard', pa.float64()),
        ('edit_distance', pa.int64()),
    ])

    def per_row(doc_id, jaccard, pred, gold):
        return ({'doc_id': doc_id, 'jaccard': jaccard,
                 'edit_distance': dameraulevenshtein(pred, gold)},)

    return map_doc_rows(with_jac, per_row, schema)


def token_f1(extracted_df, gold_df):
    """Corpus token-level metrics: join extraction to gold, average."""
    joined = extracted_df.select('doc_id', 'content_text').join(
        gold_df.select('doc_id',
                       F.col('content_text').alias('content_text_gold')),
        'doc_id')
    return token_f1_corpus(joined)


def token_f1_corpus(joined):
    """Corpus token metrics from an already-joined/fused
    ``(doc_id, content_text, content_text_gold)`` frame."""
    per_doc = token_f1_per_doc(joined)
    return per_doc.agg(
        F.avg('precision').alias('precision'),
        F.avg('recall').alias('recall'),
        F.avg('f1').alias('f1'),
        F.count('*').alias('n_docs'),
    )

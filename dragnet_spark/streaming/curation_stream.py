"""Streaming corpus curation: the batch ``curate_corpus`` flow over an
unbounded source.

    spans stream -> fused extraction (stateless mapInArrow)
                 -> Gopher quality + repetition gates (one stateless
                    Arrow stage, so legal in a stream where blocking
                    aggregations are not)
                 -> stateful first-seen exact dedup
                    (applyInPandasWithState, per-host fingerprint state)

Every stage is an existing library operator; this module only wires
them, so the stream inherits each stage's semantics -- and the kept
document set for a bounded input equals the batch composition's
(gates + first-seen-by-arrival-order dedup), which the test pins.

At 10^12-docs/day scale the source is Kafka/Iceberg CDC; state is the
per-host fingerprint store (capped, RocksDB-backed on a cluster), and
the near-dup tier runs as the periodic batch pass
(``minhash_dedup_incremental``) over the stream's output -- LSH
banding needs corpus-wide buckets that a per-key state store cannot
see.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.extract import extract
from ..operators.text_analysis import (GOPHER_MAX_DUP10GRAM_FRAC,
                                       GOPHER_MAX_TOP2GRAM_FRAC,
                                       gopher_gates)
from ..sources.synthesis import SPANS_SCHEMA
from .dedup_stream import dedup_stream


def curate_stream(spans_stream, model=None,
                  max_top2=GOPHER_MAX_TOP2GRAM_FRAC,
                  max_dup10=GOPHER_MAX_DUP10GRAM_FRAC):
    """streaming DataFrame[(doc_id, spans)] -> streaming
    (doc_id, host, content_sig, is_first_seen) for documents that
    extracted ok AND passed both gates; ``is_first_seen`` marks the
    kept (canonical) rows."""
    # the text rides through the gate stage (keep_cols) -- a stream
    # cannot be joined with a derivation of itself without watermark
    # machinery, and no join is needed for narrow gates
    extracted = (extract(spans_stream, model)
                 .where(F.col('status') == 'ok')
                 .select('doc_id', F.col('content_text').alias('text')))
    gated = (gopher_gates(extracted, max_top2, max_dup10,
                          keep_cols=('text',))
             .where((F.col('passes_quality') == 1)
                    & (F.col('passes_repetition') == 1))
             .select('doc_id', F.col('text').alias('content_text')))
    return dedup_stream(gated)


def run_curation_stream(spark, source_dir, out_dir, checkpoint_dir,
                        model=None, max_dup10=GOPHER_MAX_DUP10GRAM_FRAC):
    """File-source -> full curation -> parquet, one availableNow pass."""
    src = (spark.readStream.schema(from_arrow_schema(SPANS_SCHEMA))
           .parquet(source_dir))
    out = curate_stream(src, model=model, max_dup10=max_dup10)
    q = (out.writeStream.format('parquet')
         .option('path', out_dir)
         .option('checkpointLocation', checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q

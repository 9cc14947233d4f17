"""Blocks as a first-class DataFrame (FIXTURES.md §4).

Every intermediate the fused fast path computes -- block text, densities,
tagcount features, readability bookkeeping, the 9-column feature vector
and the prediction -- exposed as one exploded row per block so operators
are inspectable and oracle-checkable.  Same kernels as the fused path;
this is the slow/debug/training view, the fused ``extract`` is the
production path (SURVEY.md §7 guiding decisions).
"""

from __future__ import annotations

import pyarrow as pa

from ..kernels.features import DEFAULT_FEATURES, compute
from ..model import default_model
from .extract import STATUS_OK, blockify_spans, map_doc_rows

BLOCKS_PA_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('block_idx', pa.int32()),
    ('text', pa.string()),
    ('link_density', pa.float64()),
    ('text_density', pa.float64()),
    ('link_tokens', pa.list_(pa.string())),
    ('tagcount', pa.int32()),
    ('tagcount_since_last_block', pa.int32()),
    ('anchor_count', pa.int32()),
    ('min_depth_since_last_block', pa.int32()),
    ('block_start_tag', pa.string()),
    ('ancestors', pa.list_(pa.int32())),
    ('class_weights', pa.list_(pa.struct([
        ('tag_id', pa.int32()), ('weight', pa.int32())]))),
    ('features', pa.list_(pa.float64())),
    ('pred', pa.int32()),
    ('status', pa.string()),
])


def doc_to_block_rows(doc_id, spans, model, features=DEFAULT_FEATURES):
    _, _, all_blocks, status = blockify_spans(spans, features)
    mat = None
    preds = None
    if status == STATUS_OK and all_blocks:
        try:
            mat = compute(all_blocks, features)
            preds = model.predict(mat)
        except ValueError:
            pass
    rows = []
    for i, b in enumerate(all_blocks):
        f = b.features
        rows.append({
            'doc_id': doc_id,
            'block_idx': i,
            'text': b.text,
            'link_density': b.link_density,
            'text_density': b.text_density,
            'link_tokens': b.link_tokens,
            'tagcount': f.get('tagcount', 0),
            'tagcount_since_last_block': f.get('tagcount_since_last_block', 0),
            'anchor_count': f.get('anchor_count', 0),
            'min_depth_since_last_block': f.get('min_depth_since_last_block', 0),
            'block_start_tag': f.get('block_start_tag', ''),
            'ancestors': f.get('ancestors', []),
            'class_weights': [
                {'tag_id': t, 'weight': w}
                for t, w in f.get('readability_class_weights', [])],
            'features': list(mat[i]) if mat is not None else [],
            'pred': int(preds[i]) if preds is not None else 0,
            'status': status,
        })
    return rows


def synthesize_and_blockify(spark, sf_dir, amplification=1, model=None,
                            features=DEFAULT_FEATURES, num_partitions=None):
    """Synthesis + blockify in ONE python stage (r06): same rows as
    ``blockify_df(synthesize_corpus(...)[0])`` for the parquet corpus,
    without the fat span structs ever crossing the Arrow boundary."""
    from ..sources.synthesis import synthesize_fused

    model = model or default_model()

    def per_doc(sid, span_dicts, gold_c, gold_m):
        return doc_to_block_rows(sid, span_dicts, model, features)

    return synthesize_fused(spark, sf_dir, per_doc, BLOCKS_PA_SCHEMA,
                            amplification, num_partitions)


def blockify_df(df, model=None, features=DEFAULT_FEATURES):
    """DataFrame[(doc_id, spans)] -> exploded blocks DataFrame."""
    model = model or default_model()

    def per_row(doc_id, spans):
        return doc_to_block_rows(doc_id, spans or [], model, features)

    return map_doc_rows(df.select('doc_id', 'spans'), per_row,
                        BLOCKS_PA_SCHEMA)

"""Gold-standard block labeling (SURVEY.md §2.5, G1-G5).

Distributed equivalent of ``extract_gold_standard_blocks``
(``/root/reference/dragnet/data_processing.py:89-196``): join documents
with their gold text, blockify, tokenize each block with the
``[\\W_]+`` tokenizer, LCS-match the flattened token stream against the
gold content and gold comments (``check_inclusion_ex``,
``lcs.pyx:78-103``), and emit per-block matched fractions + matched
token strings.  Labels apply the >10% threshold
(``data_processing.py:324,331``); weights are token counts capped at
200 -- the reference's documented intent; its actual code has the cap
condition inverted (``extractor.py:148-149``), a known bug we fix.

This pass *also* emits the 9-column feature vector so training needs no
second blockify pass: one join + one Arrow stage end-to-end.

Scale notes: the doc_id join is the single wide op in training; AQE
skew-join handles the host-prefix skew, and the Arrow stage is narrow
after it.  LCS is O(m*n) per doc and bounded by the uint16 token cap.
"""

from __future__ import annotations

import pyarrow as pa

from ..kernels.blocks import simple_tokenizer
from ..kernels.features import DEFAULT_FEATURES, compute
from ..kernels.lcs import check_inclusion_ex
from .extract import STATUS_OK, blockify_spans, map_doc_rows

BLOCK_PCT_TOKENS_THRESH = 0.1
MAX_BLOCK_WEIGHT = 200

GOLD_BLOCKS_PA_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('block_idx', pa.int32()),
    ('text', pa.string()),
    ('content_frac', pa.float64()),
    ('comments_frac', pa.float64()),
    ('all_tokens', pa.list_(pa.string())),
    ('content_tokens', pa.list_(pa.string())),
    ('comments_tokens', pa.list_(pa.string())),
    ('label_content', pa.int32()),
    ('label_comments', pa.int32()),
    ('weight', pa.int32()),
    ('features', pa.list_(pa.float64())),
    ('truncated', pa.bool_()),
])


def _frac_and_tokens(blocks_tokens, all_tokens, block_ids, gs_text):
    """data_processing.py:150-177 equivalent, truncation-aware.

    ``check_inclusion_ex`` bounds the per-document LCS cost
    (lcs.py CELL_BUDGET).  Unknown is never silently 0:

    * document tokens past the covered prefix -> blocks fully past the
      cap get ``None`` fracs (null labels, excluded from training); a
      block straddling the cap is scored over its covered prefix;
    * when the GOLD side itself had to be truncated, a document token
      whose true match lies past the gold cap would read as unmatched,
      so ALL fracs for the field are ``None`` (ADVICE r02).

    Returns (fracs, matched, truncated).
    """
    n_blocks = len(blocks_tokens)
    gs_tokens = simple_tokenizer(gs_text)
    inclusion, n_covered, gold_truncated = check_inclusion_ex(
        all_tokens, gs_tokens)
    truncated = n_covered < len(all_tokens) or gold_truncated
    if gold_truncated:
        fracs = [0.0 if not blocks_tokens[i] else None
                 for i in range(n_blocks)]
        return fracs, [[] for _ in range(n_blocks)], True
    counts = [0] * n_blocks
    covered = [0] * n_blocks
    matched = [[] for _ in range(n_blocks)]
    for token, inc, block_id in zip(all_tokens, inclusion, block_ids):
        covered[block_id] += 1
        if inc:
            counts[block_id] += 1
            matched[block_id].append(token)
    fracs = []
    for i in range(n_blocks):
        if not blocks_tokens[i]:
            fracs.append(0.0)
        elif covered[i] == 0:
            fracs.append(None)  # entirely past the cap: unknown
        else:
            fracs.append(counts[i] / covered[i])
    return fracs, matched, truncated


def label_document(doc_id, spans, content_text, comments_text,
                   features=DEFAULT_FEATURES):
    """One (doc, gold) pair -> gold_blocks rows."""
    _, _, all_blocks, status = blockify_spans(spans, features)
    if status != STATUS_OK or not all_blocks:
        return []
    blocks_tokens = [simple_tokenizer(b.text) for b in all_blocks]
    flat_tokens = []
    flat_ids = []
    for i, toks in enumerate(blocks_tokens):
        flat_tokens.extend(toks)
        flat_ids.extend([i] * len(toks))

    c_fracs, c_matched, c_trunc = _frac_and_tokens(
        blocks_tokens, flat_tokens, flat_ids, content_text or '')
    m_fracs, m_matched, m_trunc = _frac_and_tokens(
        blocks_tokens, flat_tokens, flat_ids, comments_text or '')
    truncated = c_trunc or m_trunc

    try:
        mat = compute(all_blocks, features)
    except ValueError:
        mat = None  # <3 blocks: excluded from training (extractor.py:120-125)

    rows = []
    for i, b in enumerate(all_blocks):
        rows.append({
            'doc_id': doc_id,
            'block_idx': i,
            'text': b.text,
            'content_frac': c_fracs[i],
            'comments_frac': m_fracs[i],
            'all_tokens': blocks_tokens[i],
            'content_tokens': c_matched[i],
            'comments_tokens': m_matched[i],
            'label_content': (int(c_fracs[i] > BLOCK_PCT_TOKENS_THRESH)
                              if c_fracs[i] is not None else None),
            'label_comments': (int(m_fracs[i] > BLOCK_PCT_TOKENS_THRESH)
                               if m_fracs[i] is not None else None),
            'weight': min(len(blocks_tokens[i]), MAX_BLOCK_WEIGHT),
            'features': list(mat[i]) if mat is not None else None,
            'truncated': truncated,
        })
    return rows


def synthesize_and_label(spark, sf_dir, amplification=1,
                         features=DEFAULT_FEATURES, num_partitions=None):
    """Synthesis + blockify + LCS gold labeling in ONE python stage
    (r06): same rows as ``gold_blocks(*synthesize_corpus(...))`` for
    the parquet corpus -- the spans never cross the Arrow boundary, the
    gold table is never re-synthesized in a second python pass, and the
    doc_id shuffle join of two opaque python outputs disappears (the
    spans and their gold are born in the same kernel call)."""
    from ..sources.synthesis import synthesize_fused

    def per_doc(sid, span_dicts, gold_c, gold_m):
        return label_document(sid, span_dicts, gold_c, gold_m, features)

    return synthesize_fused(spark, sf_dir, per_doc, GOLD_BLOCKS_PA_SCHEMA,
                            amplification, num_partitions)


def gold_blocks(spans_df, gold_df, features=DEFAULT_FEATURES):
    """(spans, gold) -> gold_blocks DataFrame.

    Plan: SortMergeJoin/ShuffledHashJoin on doc_id (AQE-skew-aware)
    followed by one narrow Arrow stage.
    """
    joined = spans_df.join(gold_df, 'doc_id').select(
        'doc_id', 'spans', 'content_text', 'comments_text')

    def per_row(doc_id, spans, content, comments):
        return label_document(doc_id, spans or [], content, comments,
                              features)

    return map_doc_rows(joined, per_row, GOLD_BLOCKS_PA_SCHEMA)

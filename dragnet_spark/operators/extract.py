"""Fused extraction operator: spans -> content spans, one Arrow stage.

The flagship inference path (SURVEY.md §3.1): parse -> blockify ->
featurize -> predict -> reassemble fused inside a single ``mapInArrow``
-- zero shuffles, model captured by closure (broadcast), failures
contained as status rows (never task failures; the reference similarly
skips bad docs, ``data_processing.py:120-125``).

Media-span semantics (SURVEY.md §7, no reference equivalent -- dragnet
blacklists ``img`` and drops media): media spans partition a document
into *runs* of consecutive text spans.  Each run is blockified separately
(readability tag-ids offset so the namespaces don't collide), sequence
features are computed over the concatenated per-document block list, and
output spans interleave kept text blocks with passthrough media spans in
original order.  Documents with no media have exactly one run and are
bit-identical to reference semantics.

Python stages come in three shapes across the library, each written once:

* per row: :func:`map_doc_rows` -- a ``per_row`` function plus one Arrow
  schema; extraction, corpus synthesis, the text counts stage, CleanEval
  gold, edit distance and media features all run through it;
* per batch, numpy: ``similarity._map_batches`` (vector math over a
  whole batch);
* per partition: ``components.partition_min_labels`` (a graph solved
  over all of a partition's edges).

The one stage with its own row loop is the passage explode
(``dedup.passage_sig_rows``), kept on measurement (its docstring).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels.blocks import BlockifyError, blockify
from ..kernels.features import DEFAULT_FEATURES, compute
from ..model import LogisticModel, default_model
from ..plans.session import ARROW_BATCH_ROWS

STATUS_OK = 'ok'
STATUS_PARSE_ERROR = 'blockify_error'
STATUS_TOO_FEW = 'too_few_blocks'

# the span-document element type, declared once: every span table --
# extraction input and output, synthesized corpora, streaming sources --
# is ``(doc_id, spans: SPANS_TYPE, ...)``
SPANS_TYPE = pa.list_(pa.struct([
    ('kind', pa.string()),
    ('text', pa.string()),
    ('media_ref', pa.string()),
    ('offset', pa.int32()),
]))

EXTRACTED_PA_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('spans', SPANS_TYPE),
    ('content_text', pa.string()),
    ('status', pa.string()),
])


STATUS_ERROR = 'error'


def _sanitize(spans):
    """Null-proof raw span rows: a single malformed field must degrade the
    document, never abort an executor task (failure containment at
    10^12-doc scale -- a null slips into any real corpus)."""
    out = []
    for i, s in enumerate(spans):
        s = s or {}
        out.append({
            'kind': s.get('kind') or 'text',
            'text': s.get('text') or '',
            'media_ref': s.get('media_ref') or '',
            'offset': s.get('offset') if s.get('offset') is not None else i,
        })
    return out


def split_runs(spans):
    """Sort spans by offset; split into text runs separated by media spans.

    Returns an ordered list of ('text', [span,...]) / ('media', span)
    items.
    """
    ordered = sorted(_sanitize(spans), key=lambda s: s['offset'])
    items = []
    run = []
    for s in ordered:
        # every non-text kind (media, video, audio, image, ...) bypasses
        # classification and passes through in order
        if s['kind'] != 'text':
            if run:
                items.append(('text', run))
                run = []
            items.append(('media', s))
        else:
            run.append(s)
    if run:
        items.append(('text', run))
    return items


def blockify_spans(spans, features=DEFAULT_FEATURES):
    """spans -> (items, per-run block lists, all_blocks, status).

    ``items`` is the run/media structure from :func:`split_runs`; text
    items are annotated with their index into the per-run block lists.
    Blocks carry their CSS class/id tokens exactly when ``features``
    asks for ``'css'`` (the only consumer of ``Block.css``).
    """
    do_css = 'css' in features
    items = split_runs(spans)
    run_blocks = []
    all_blocks = []
    tag_id_base = 0
    out_items = []
    for kind, payload in items:
        if kind == 'media':
            out_items.append(('media', payload))
            continue
        html = ''.join(s['text'] for s in payload)
        if not html.strip():
            continue
        try:
            blocks, tag_id_base = blockify(
                html, do_tagcount=True, do_css=do_css, do_readability=True,
                tag_id_base=tag_id_base, return_next_tag_id=True)
        except BlockifyError:
            return items, [], [], STATUS_PARSE_ERROR
        except RecursionError:
            return items, [], [], STATUS_PARSE_ERROR
        out_items.append(('text', len(run_blocks)))
        run_blocks.append(blocks)
        all_blocks.extend(blocks)
    return out_items, run_blocks, all_blocks, STATUS_OK


def _strip_link_tokens(block):
    """Block text minus its anchor-sourced tokens (right-to-left
    multiset removal: spam CTA anchors trail the commenter's words).
    Returns '' when the block was pure anchor text."""
    if not block.link_tokens:
        return block.text
    toks = block.text.split(' ')
    remaining = {}
    for t in block.link_tokens:
        remaining[t] = remaining.get(t, 0) + 1
    kept = []
    for t in reversed(toks):
        if remaining.get(t):
            remaining[t] -= 1
        else:
            kept.append(t)
    kept.reverse()
    return ' '.join(kept)


def process_document(spans, model: LogisticModel,
                     features=DEFAULT_FEATURES, strip_link_tokens=False):
    """One document: list-of-span-dicts -> (out_spans, content_text, status).

    Kernel-level (Spark-free) so the span-sequence invariant is directly
    unit-testable.

    ``strip_link_tokens`` removes anchor-sourced tokens from kept blocks
    (dropping blocks that become empty) -- the comments-extraction mode:
    comment gold is the commenter's words, while embedded anchors are
    overwhelmingly CTA/spam chrome ('click here to win').  The reference
    emits anchor text verbatim (divergence documented; default False
    keeps reference parity).
    """
    items, run_blocks, all_blocks, status = blockify_spans(spans, features)

    preds = None
    if status == STATUS_OK:
        try:
            mat = compute(all_blocks, features)
            preds = model.predict(mat)
        except ValueError:
            # <3 blocks: all-boilerplate prediction (extractor.py:211-212)
            preds = [0] * len(all_blocks)
            status = STATUS_TOO_FEW

    out_spans = []
    kept_texts = []
    if preds is not None:
        # map flat predictions back to per-run blocks
        flat_idx = 0
        keep_per_run = []
        for blocks in run_blocks:
            kept = []
            for b in blocks:
                if preds[flat_idx]:
                    text = (_strip_link_tokens(b) if strip_link_tokens
                            else b.text)
                    if text:
                        kept.append(text)
                flat_idx += 1
            keep_per_run.append(kept)
        for kind, payload in items:
            if kind == 'media':
                out_spans.append({
                    'kind': payload['kind'], 'text': '',
                    'media_ref': payload['media_ref'],
                    'offset': len(out_spans)})
            else:
                for text in keep_per_run[payload]:
                    out_spans.append({
                        'kind': 'text', 'text': text, 'media_ref': '',
                        'offset': len(out_spans)})
                    kept_texts.append(text)
    else:
        # parse error: media passthrough only
        for kind, payload in items:
            if kind == 'media':
                out_spans.append({
                    'kind': payload['kind'], 'text': '',
                    'media_ref': payload['media_ref'],
                    'offset': len(out_spans)})

    return out_spans, '\n'.join(kept_texts), status


OUT_BATCH_BYTES = 32 << 20


def _spans_rows(spans_arr):
    """ListArray<struct> -> per-row lists of span dicts via flat field
    conversion: primitive child arrays convert to Python in one C pass
    each, instead of one nested StructScalar per span (measured ~5% of
    the extraction stage)."""
    offsets = spans_arr.offsets.to_pylist()
    flat = spans_arr.values
    kinds = flat.field('kind').to_pylist()
    texts = flat.field('text').to_pylist()
    refs = flat.field('media_ref').to_pylist()
    offs = flat.field('offset').to_pylist()
    nulls = (spans_arr.is_null().to_pylist()
             if spans_arr.null_count else None)
    out = []
    for i in range(len(spans_arr)):
        if nulls is not None and nulls[i]:
            out.append([])
            continue
        out.append([
            {'kind': kinds[j], 'text': texts[j], 'media_ref': refs[j],
             'offset': offs[j]}
            for j in range(offsets[i], offsets[i + 1])])
    return out


def extracted_row(doc_id, spans, model, features=DEFAULT_FEATURES,
                  strip_link_tokens=False):
    """One extraction output row; any kernel exception becomes an
    ``error`` status row (last-resort containment: one pathological
    document must never fail the task)."""
    try:
        out_spans, content, status = process_document(
            spans or [], model, features,
            strip_link_tokens=strip_link_tokens)
    except Exception:
        out_spans, content, status = [], '', STATUS_ERROR
    return {'doc_id': doc_id, 'spans': out_spans, 'content_text': content,
            'status': status}


def _row_bytes(row):
    """Estimated output bytes of one row: 64 + 2 x its top-level
    str/bytes lengths (nested lists such as kept spans are covered by
    the factor 2 -- their text is also in ``content_text``)."""
    n = 64
    for v in row.values():
        if isinstance(v, (str, bytes)):
            n += 2 * len(v)
    return n


def doc_row_batches(batches, per_row, schema):
    """The batch loop of every per-document Arrow stage (Spark-free).

    Each input row's column values go to ``per_row(*values)``, which
    yields output row dicts; ``SPANS_TYPE`` columns arrive as lists of
    span dicts (:func:`_spans_rows`), every other column as Python
    values.  Output is flushed at the first of ``ARROW_BATCH_ROWS`` rows
    or ``OUT_BATCH_BYTES`` of estimated output (:func:`_row_bytes`), so
    a task holds one bounded batch however many rows one input batch
    fans out to: ``maxRecordsPerBatch`` caps input rows only, and 1024
    outlier documents of a few MB each would otherwise pin gigabytes
    per in-flight batch (SURVEY.md §4 'Arrow batch sizing').
    """
    for rb in batches:
        cols = [_spans_rows(c) if c.type == SPANS_TYPE else c.to_pylist()
                for c in rb.columns]
        rows = []
        approx_bytes = 0
        for values in zip(*cols):
            for row in per_row(*values):
                rows.append(row)
                approx_bytes += _row_bytes(row)
                if (len(rows) >= ARROW_BATCH_ROWS
                        or approx_bytes >= OUT_BATCH_BYTES):
                    yield pa.RecordBatch.from_pylist(rows, schema=schema)
                    rows = []
                    approx_bytes = 0
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=schema)


def map_doc_rows(df, per_row, schema):
    """DataFrame -> ``schema`` rows through ``per_row`` in ONE
    ``mapInArrow`` stage (:func:`doc_row_batches`).  ``schema`` is the
    only declaration of the output format: the Spark schema is derived
    from it."""

    def batches(it):
        return doc_row_batches(it, per_row, schema)

    return df.mapInArrow(batches, from_arrow_schema(schema))


def extract(df, model=None, features=DEFAULT_FEATURES,
            to_extract=('content',), strip_link_tokens=False):
    """DataFrame[(doc_id, spans)] -> DataFrame[(doc_id, spans,
    content_text, status)] -- the flagship query.

    ``to_extract`` selects the shipped model ('content', 'comments', or
    both) when ``model`` is None, mirroring the reference's module-level
    extractors (``dragnet/__init__.py:9-27``).

    Physical plan: Scan -> Project(mapInArrow) -- a single narrow stage;
    verify with ``result.explain('formatted')`` that no Exchange appears.
    """
    model = model or default_model(to_extract)

    def per_row(doc_id, spans):
        return [extracted_row(doc_id, spans, model, features,
                              strip_link_tokens)]

    return map_doc_rows(df.select('doc_id', 'spans'), per_row,
                        EXTRACTED_PA_SCHEMA)


def extract_content(df, model=None):
    """M6 convenience: main-content extraction (dragnet.extract_content)."""
    return extract(df, model=model, to_extract=('content',))


def extract_comments(df, model=None, strip_link_tokens=True):
    """M6 convenience: comments extraction (dragnet.extract_comments).

    Defaults to stripping anchor-sourced tokens from kept blocks: comment
    gold is the commenter's words; embedded anchors in comment regions
    are overwhelmingly CTA/spam chrome. Pass strip_link_tokens=False for
    verbatim reference behavior."""
    return extract(df, model=model, to_extract=('comments',),
                   strip_link_tokens=strip_link_tokens)


def extract_content_and_comments(df, model=None):
    """M6 convenience: combined extraction
    (dragnet.extract_content_and_comments)."""
    return extract(df, model=model, to_extract=('content', 'comments'))

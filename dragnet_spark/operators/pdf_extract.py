"""PDF / layout extraction operators (north rule: "PDF/layout parse").

The pipeline shape mirrors the HTML path: opaque ``binary`` payloads in
a column, one narrow ``mapInArrow`` stage running the pure-Python kernel
(:mod:`dragnet_spark.kernels.pdf`), layout blocks out -- then the same
downstream operators (dedup, labeling, metrics) apply unchanged.

* :func:`pdf_corpus` -- derives a deterministic PDF payload per document
  from the documents table (title + paragraphed body + per-host running
  header/footer + page numbers), entirely inside the Arrow batch.  At
  100 TB the payloads would arrive in the lake; this synthesizes the
  same shape from the test tables (TESTDATA.md rule: no external data).
* :func:`pdf_layout_blocks` -- payloads -> ordered layout blocks
  ``(doc_id, page, block_idx, kind, size, y_top, text)``.
* :func:`pdf_extract_content` -- the de-chromed document: furniture
  stripped by recurrence (multi-page) + margin zones (always), heading
  and body reassembled in reading order.  Because the writer/parser
  round-trip is lossless over whitespace-normalized text, this query is
  HASH-CHECKED against a pure-SQL DuckDB oracle
  (``regexp_replace`` normalization of the source text) -- the whole
  write -> Flate -> parse -> layout -> de-chrome pipeline must
  reproduce the source text byte-for-byte.

Scale notes: one Python stage, no shuffle; payload bytes never cross
more than one Arrow boundary.  Partition-level parallelism comes from
the upstream repartition of the cheap (doc_id, text) rows, as in
sources/synthesis.py.
"""

from __future__ import annotations

import re

import pyarrow as pa

import pyspark.sql.functions as F

from ..kernels.pdf import (extract_text_runs, layout_blocks, make_pdf,
                           strip_margin_furniture, strip_repeated_furniture)
from ..sources.synthesis import _spread_docs
from .extract import map_doc_rows

_WS_RE = re.compile(r'[ \t\n\r\f\v]+')

PDF_BLOCKS_PA_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('page', pa.int32()),
    ('block_idx', pa.int32()),
    ('kind', pa.string()),
    ('size', pa.float64()),
    ('y_top', pa.float64()),
    ('text', pa.string()),
])

PARA_WORDS = 60


def render_pdf(doc_id, text):
    """One deterministic PDF payload: title 'Document <id>', body split
    into ~PARA_WORDS-word paragraphs, host-flavored header/footer."""
    words = [w for w in _WS_RE.split(text or '') if w]
    paras = [' '.join(words[i:i + PARA_WORDS])
             for i in range(0, len(words), PARA_WORDS)]
    return make_pdf('Document %s' % doc_id, paras,
                    header='corpus feed %s' % (sum(map(ord, str(doc_id)))
                                               % 7),
                    footer='retrieved for research use')


PDF_CORPUS_SCHEMA = pa.schema([('doc_id', pa.string()),
                               ('payload', pa.binary())])


def _spread_docs_str(spark, sf_dir, num_partitions):
    return _spread_docs(spark, sf_dir, num_partitions).select(
        F.col('doc_id').cast('string').alias('doc_id'), 'text')


def pdf_corpus(spark, sf_dir, num_partitions=None):
    """documents.parquet -> (doc_id, payload binary) PDFs."""

    def per_row(doc_id, text):
        return [{'doc_id': doc_id, 'payload': render_pdf(doc_id, text)}]

    return map_doc_rows(_spread_docs_str(spark, sf_dir, num_partitions),
                        per_row, PDF_CORPUS_SCHEMA)


def _doc_blocks(doc_id, payload, dechrome):
    blocks = layout_blocks(extract_text_runs(payload or b''))
    if dechrome:
        blocks = strip_margin_furniture(strip_repeated_furniture(blocks))
    return [{'doc_id': doc_id, 'page': b['page'],
             'block_idx': b['block_idx'], 'kind': b['kind'],
             'size': b['size'], 'y_top': b['y_top'], 'text': b['text']}
            for b in blocks]


def pdf_layout_blocks(df, dechrome=False, payload_col='payload'):
    """(doc_id, payload) -> exploded ordered layout blocks."""

    def per_row(doc_id, payload):
        return _doc_blocks(doc_id, payload, dechrome)

    return map_doc_rows(df.select('doc_id', F.col(payload_col).alias('_p')),
                        per_row, PDF_BLOCKS_PA_SCHEMA)


_CONTENT_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('title', pa.string()),
    ('n_pages', pa.int32()),
    ('content_text', pa.string()),
])


def _content_row(doc_id, payload):
    """One de-chromed content row from a PDF payload (shared by the
    two-stage and fused paths so their outputs are identical by
    construction)."""
    blocks = _doc_blocks(doc_id, payload, dechrome=True)
    title = next((b['text'] for b in blocks
                  if b['kind'] == 'heading'), None)
    body = ' '.join(b['text'] for b in blocks if b['kind'] == 'body')
    n_pages = max((b['page'] for b in blocks), default=-1) + 1
    return {'doc_id': doc_id, 'title': title,
            'n_pages': n_pages, 'content_text': body}


def pdf_extract_content(df, payload_col='payload'):
    """(doc_id, payload) -> (doc_id, title, n_pages, content_text).

    Reading-order body text after furniture stripping; the first heading
    is the title.  FUSED: a document's blocks all come out of one kernel
    call, so assembly happens in the same Arrow stage -- the whole
    pipeline is one narrow Python stage, ZERO shuffles (the same plan
    shape as the HTML synthesize_and_extract fast path; asserted in
    tests/test_pdf.py).
    """

    def per_row(doc_id, payload):
        return [_content_row(doc_id, payload)]

    return map_doc_rows(df.select('doc_id', F.col(payload_col).alias('_p')),
                        per_row, _CONTENT_SCHEMA)


def synthesize_and_extract_pdf(spark, sf_dir, num_partitions=None):
    """Render + parse + de-chrome in ONE python stage (r06): same rows
    as ``pdf_extract_content(pdf_corpus(...))`` -- the Flate-compressed
    payload bytes never cross the Arrow boundary at all (guide §4.1),
    they are parsed right where they are written."""

    def per_row(doc_id, text):
        return [_content_row(doc_id, render_pdf(doc_id, text))]

    return map_doc_rows(_spread_docs_str(spark, sf_dir, num_partitions),
                        per_row, _CONTENT_SCHEMA)

"""Gold-standard file-format readers/writers (SURVEY.md §2.1 S2/S3/S5).

The reference stores gold data in two text formats; users migrating from
it carry corpora in these shapes, so both round-trip here:

* "corrected" text: main content, then the literal delimiter line
  ``!@#$%^&*()  COMMENTS``, then comments
  (``/root/reference/dragnet/data_processing.py:26,256-298``)
* block-corrected TSV: one line per block,
  ``content_frac \\t comments_frac \\t all_tokens \\t content_tokens \\t
  comments_tokens`` (``data_processing.py:106-117,185-196``)

Both parse with JVM-side column expressions (no UDF); the CleanEval
HTML mode parses in one ``map_doc_rows`` stage.
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..operators.extract import map_doc_rows

# data_processing.py:26 -- regex split, first occurrence only
COMMENTS_DELIM_RE = r'\n*!@#\$%\^&\*\(\)\s+COMMENTS\n*'
COMMENTS_DELIM_LITERAL = '!@#$%^&*()  COMMENTS'


def parse_corrected(df, text_col='corrected_text'):
    """corrected-text column -> (content_text, comments_text) columns.

    ``split(col, delim, 2)`` reproduces maxsplit=1; a missing delimiter
    yields empty comments (data_processing.py:286-289)."""
    parts = F.split(F.col(text_col), COMMENTS_DELIM_RE, 2)
    return df.select(
        'doc_id',
        F.trim(parts.getItem(0)).alias('content_text'),
        F.trim(F.coalesce(
            F.when(F.size(parts) > 1, parts.getItem(1)), F.lit('')))
        .alias('comments_text'))


def cleaneval_text(html: str) -> str:
    """CleanEval-mode gold: parse as HTML and join all text fragments
    with spaces, comments empty (``read_gold_standard_file(cetr=True)``,
    ``data_processing.py:290-292`` via ``text_from_subtree``)."""
    from ..kernels.htmlparse import BlockifyError, parse_html

    try:
        root = parse_html(html)
    except BlockifyError:
        return ''
    parts = []

    def walk(node):
        if node.text:
            parts.append(node.text)
        for c in node.children:
            walk(c)
            if c.tail:
                parts.append(c.tail)

    walk(root)
    return ' '.join(parts).strip()


def parse_corrected_cleaneval(df, text_col='corrected_text'):
    """CleanEval gold column -> (content_text, comments_text='') via one
    Arrow stage (HTML parsing is not a column expression)."""
    schema = pa.schema([
        ('doc_id', to_arrow_type(df.schema['doc_id'].dataType)),
        ('content_text', pa.string()),
        ('comments_text', pa.string()),
    ])

    def per_row(doc_id, text):
        return ({'doc_id': doc_id, 'content_text': cleaneval_text(text or ''),
                 'comments_text': ''},)

    return map_doc_rows(df.select('doc_id', text_col), per_row, schema)


def format_corrected(gold_df):
    """(content_text, comments_text) -> single corrected-text column."""
    return gold_df.select(
        'doc_id',
        F.concat_ws('\n' + COMMENTS_DELIM_LITERAL + '\n',
                    F.col('content_text'), F.col('comments_text'))
        .alias('corrected_text'))


def format_block_tsv(gold_blocks_df):
    """gold_blocks rows -> the reference 5-field TSV lines (S5),
    grouped per document in block order."""
    line = F.concat_ws(
        '\t',
        F.col('content_frac').cast('string'),
        F.col('comments_frac').cast('string'),
        F.array_join('all_tokens', ' '),
        F.array_join('content_tokens', ' '),
        F.array_join('comments_tokens', ' '))
    return (gold_blocks_df
            .withColumn('_line', line)
            .groupBy('doc_id')
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct('block_idx', '_line'))),
                    lambda s: s['_line']),
                '\n').alias('block_tsv')))


def parse_block_tsv(df, tsv_col='block_tsv'):
    """TSV lines -> exploded gold_blocks rows (S3) with the >10% labels
    and capped weights re-derived (G5, data_processing.py:323-402)."""
    lines = F.split(F.col(tsv_col), '\n')
    exploded = df.select(
        'doc_id', F.posexplode(lines).alias('block_idx', '_line'))
    fields = F.split(F.col('_line'), '\t')
    tok = lambda i: F.array_remove(F.split(fields.getItem(i), ' '), '')  # noqa: E731
    out = exploded.select(
        'doc_id',
        F.col('block_idx').cast('int').alias('block_idx'),
        fields.getItem(0).cast('double').alias('content_frac'),
        fields.getItem(1).cast('double').alias('comments_frac'),
        tok(2).alias('all_tokens'),
        tok(3).alias('content_tokens'),
        tok(4).alias('comments_tokens'))
    return out.select(
        '*',
        (F.col('content_frac') > 0.1).cast('int').alias('label_content'),
        (F.col('comments_frac') > 0.1).cast('int').alias('label_comments'),
        F.least(F.size('all_tokens'), F.lit(200)).alias('weight'))

"""Python Data Source (Spark 4) for the reference's gold-corpus layout.

A user migrating from the reference keeps directories of
``<fileroot>.corrected.txt`` gold files (one document each, content +
``!@#$%^&*()  COMMENTS`` + comments -- the format
``/root/reference/dragnet/data_processing.py:256-298`` reads).  This
exposes such a directory as a first-class Spark table through the
Spark 4 Python Data Source API::

    from dragnet_spark.sources.gold_datasource import register
    register(spark)
    df = (spark.read.format('gold_corrected')
          .load('/path/to/Corrected'))    # doc_id, content_text, comments_text

Scale shape: the driver lists FILE NAMES only (bounded metadata, like
any file index) and plans one :class:`GoldPartition` per chunk of
files; executors open and parse their own chunk -- document text never
touches the driver.  ``numPartitions`` (option) controls the fan-out.

The per-file split logic is the same first-occurrence regex split as
``gold_io.parse_corrected`` (its JVM twin, pinned against each other
in tests); encoding follows the reference's utf-8-with-replacement
read.
"""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

from .gold_io import COMMENTS_DELIM_LITERAL, COMMENTS_DELIM_RE

_DELIM_RE = re.compile(COMMENTS_DELIM_RE)
_SUFFIX = '.corrected.txt'

SCHEMA = 'doc_id string, content_text string, comments_text string'


def parse_corrected_text(raw: str):
    """content/comments split, first delimiter occurrence only
    (data_processing.py:286-289 semantics; maxsplit=1)."""
    parts = _DELIM_RE.split(raw, maxsplit=1)
    content = parts[0].strip()
    comments = parts[1].strip() if len(parts) > 1 else ''
    return content, comments


def _list_corrected(path):
    """Relative paths of every ``*.corrected.txt`` under ``path``,
    recursive and sorted -- doc_ids may carry ``host/`` prefixes, which
    the writer lays out as subdirectories."""
    out = []
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        for n in names:
            if n.endswith(_SUFFIX):
                out.append(n if rel == '.' else os.path.join(rel, n))
    return sorted(out)


class GoldPartition(InputPartition):
    def __init__(self, files):
        self.files = files


class GoldCorrectedReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get('path')
        if not self.path:
            raise ValueError("gold_corrected needs a directory: "
                             ".load('/dir') or .option('path', '/dir')")
        self.num_partitions = int(options.get('numpartitions', 8))

    def partitions(self):
        names = _list_corrected(self.path)
        n_parts = max(1, min(self.num_partitions, len(names) or 1))
        return [GoldPartition(names[i::n_parts])
                for i in range(n_parts)]

    def read(self, partition):
        for name in partition.files:
            with open(os.path.join(self.path, name), 'rb') as f:
                raw = f.read().decode('utf-8', 'replace')
            content, comments = parse_corrected_text(raw)
            yield (name[:-len(_SUFFIX)], content, comments)


class GoldWriteDone(WriterCommitMessage):
    def __init__(self, n_files):
        self.n_files = n_files


class GoldCorrectedWriter(DataSourceWriter):
    """One ``<doc_id>.corrected.txt`` per row, written by the task that
    owns the row -- the exact inverse of the reader, so a corpus can
    round-trip through the reference's on-disk layout.  Each file write
    is an O(one doc) operation per executor; the driver only tallies
    commit messages.

    ``mode('overwrite')`` clears existing ``*.corrected.txt`` files
    driver-side at plan time (this constructor) -- without it, stale
    per-doc files from a previous larger write would survive as
    phantom rows in the "overwritten" corpus."""

    def __init__(self, options, overwrite=False):
        self.path = options.get('path')
        if not self.path:
            raise ValueError("gold_corrected needs a directory: "
                             ".save('/dir') or .option('path', '/dir')")
        if overwrite and os.path.isdir(self.path):
            for rel in _list_corrected(self.path):
                os.remove(os.path.join(self.path, rel))

    def write(self, iterator):
        n = 0
        for row in iterator:
            body = row.content_text or ''
            if row.comments_text:
                body += '\n%s\n%s' % (COMMENTS_DELIM_LITERAL,
                                        row.comments_text)
            # doc_ids carry host/ prefixes ('h000/doc-...'): lay them
            # out as subdirectories so ids round-trip verbatim through
            # the recursive reader.  An absolute doc_id or one with
            # '..' segments would escape the target directory
            # (os.path.join DISCARDS the base on absolute paths), so
            # every resolved target must stay under the base
            # (ADVICE r04).
            if os.path.isabs(row.doc_id):
                raise ValueError('absolute doc_id refuses to write: %r'
                                 % row.doc_id)
            base = os.path.realpath(self.path)
            target = os.path.join(base, row.doc_id + _SUFFIX)
            resolved = os.path.realpath(target)
            if os.path.commonpath([base, resolved]) != base:
                raise ValueError('doc_id escapes the target directory: %r'
                                 % row.doc_id)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            with open(target, 'wb') as f:
                f.write(body.encode('utf-8'))
            n += 1
        return GoldWriteDone(n)


class GoldCorrectedStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of a growing gold directory: each micro-batch
    picks up files not yet consumed; the offset is the consumed
    file-name list, persisted in the streaming checkpoint so a
    restarted query resumes exactly where it stopped (exactly-once
    together with an idempotent sink).

    The name-list offset is right for corpus-sized directories
    (thousands of files of metadata, like any file-source log); a
    10^12-file feed would ride the native file source's compacted log
    or a table-format CDC feed instead -- documented trade-off.
    """

    def __init__(self, options):
        self.path = options.get('path')
        if not self.path:
            raise ValueError('gold_corrected stream needs a directory')

    def _names(self):
        return _list_corrected(self.path)

    @staticmethod
    def _parse(path, name):
        with open(os.path.join(path, name), 'rb') as f:
            raw = f.read().decode('utf-8', 'replace')
        content, comments = parse_corrected_text(raw)
        return (name[:-len(_SUFFIX)], content, comments)

    def initialOffset(self):
        return {'seen': []}

    def read(self, start):
        names = self._names()
        seen = set(start['seen'])
        new = [n for n in names if n not in seen]
        rows = [self._parse(self.path, n) for n in new]
        return iter(rows), {'seen': names}

    def readBetweenOffsets(self, start, end):
        seen = set(start['seen'])
        replay = [n for n in end['seen'] if n not in seen]
        return iter(self._parse(self.path, n) for n in replay)


class GoldCorrectedDataSource(DataSource):
    @classmethod
    def name(cls):
        return 'gold_corrected'

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return GoldCorrectedReader(self.options)

    def writer(self, schema, overwrite):
        return GoldCorrectedWriter(self.options, overwrite=overwrite)

    def simpleStreamReader(self, schema):
        return GoldCorrectedStreamReader(self.options)


def register(spark):
    spark.dataSource.register(GoldCorrectedDataSource)

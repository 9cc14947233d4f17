"""Seeded input generators.  Every input is a pure function of
``(workload, seed, scale)`` and is written as parquet into the run's
work directory before any timing starts; the program under test only
ever reads those files.

``extract`` reads documents drawn like the ``documents`` table the
repository's ``bench.py`` reads (sf0.1, 5,000 rows), fitted to that
table's measured shape: 10-99 words per text, uniform over its 30-word
vocabulary, no sentence punctuation, and 5% of the rows another row's
text with `` dup`` appended (see ``layer_map.json``).

The curation workloads need texts that pass the Gopher quality gate,
which none of that table's rows do: they use articles of the same
vocabulary joined with Gopher stop-word connectors and cut into
sentences.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ('spark', 'window', 'merge', 'table', 'column', 'vector', 'stream',
         'value', 'data', 'small', 'join', 'filter', 'big', 'group', 'hash',
         'customer', 'sort', 'order', 'slow', 'line', 'part', 'fast', 'row',
         'agg', 'key', 'query', 'scan', 'batch', 'a', 'the')
CONNECTORS = ('the', 'to', 'of', 'and', 'that', 'with', 'have', 'be')

DOCS_SCHEMA = pa.schema([('doc_id', pa.int64()), ('text', pa.string())])

# Input sizes.  ``tiny`` exists for the benchmark's own tests.
SIZES = {
    'extract': {'full': {'docs': 2000}, 'tiny': {'docs': 24}},
    'funnel': {'full': {'docs': 160}, 'tiny': {'docs': 24}},
    'dedup_skew': {'full': {'docs': 800, 'top_family': 400},
                   'tiny': {'docs': 60, 'top_family': 20}},
}
# source documents of the kernel trace (x4 span documents)
KERNEL_SAMPLE_DOCS = 250


# shape of the sf0.1 ``documents`` table (measured; see layer_map.json)
TABLE_WORDS = (10, 99)
TABLE_DUP_FRAC = 0.05


def table_docs(seed, n_docs):
    """``(doc_id, text)`` rows drawn like the ``documents`` table."""
    rng = random.Random('table:%d' % seed)
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < TABLE_DUP_FRAC:
            texts.append(rng.choice(texts) + ' dup')
        else:
            texts.append(' '.join(rng.choice(VOCAB) for _ in
                                  range(rng.randint(*TABLE_WORDS))))
    return list(enumerate(texts))


def _sentence(rng):
    words = []
    for _ in range(rng.randint(6, 14)):
        words.append(rng.choice(VOCAB))
        if rng.random() < 0.25:
            words.append(rng.choice(CONNECTORS))
    return ' '.join(words) + '.'


def article_text(rng, lo=40, hi=160):
    """One article: sentences until at least ``lo`` words (cap ``hi``)."""
    target = rng.randint(lo, hi)
    sents, n = [], 0
    while n < target:
        s = _sentence(rng)
        sents.append(s)
        n += s.count(' ') + 1
    return ' '.join(sents)


def article_docs(seed, n_docs):
    rng = random.Random('articles:%d:0' % seed)
    return [(i, article_text(rng)) for i in range(n_docs)]


def _mutate(rng, words, n_edits):
    words = list(words)
    for _ in range(n_edits):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return words


def family_sizes(n_docs, top_family):
    """Heavy-tailed near-copy family sizes: the largest family has
    ``top_family`` members (above the MinHash bucket cap of 256 at full
    size), the rest fall off as ~top/k**2 until four fifths of the
    documents are in families; the remaining fifth are singletons."""
    sizes, k = [top_family], 2
    while True:
        size = max(2, int(top_family / k ** 2))
        if sum(sizes) + size > (4 * n_docs) // 5:
            return sizes
        sizes.append(size)
        k += 1


def skew_docs(seed, n_docs, top_family):
    """``(doc_id, text)`` rows with heavy-tailed near-copy families.

    Each family member is its base article with 0-2 token substitutions
    (0 makes an exact copy), so every member pair stays far above the
    0.7 shingle-Jaccard threshold; ids are shuffled so families
    interleave across the id order the bucket chains follow.
    """
    rng = random.Random('skew:%d' % seed)
    texts = []
    for size in family_sizes(n_docs, top_family):
        base = article_text(rng, 90, 160).split()
        for _ in range(size):
            texts.append(' '.join(_mutate(rng, base, rng.choice((0, 1, 2)))))
    while len(texts) < n_docs:
        texts.append(article_text(rng, 60, 160))
    rng.shuffle(texts)
    return list(enumerate(texts))


def workload_docs(workload, seed, scale='full', warm=False):
    """The measured input, or with ``warm`` the warm-up input: same size
    and shape from another seed stream, so nothing the warm-up leaves
    behind matches the measured input."""
    size = SIZES[workload][scale]
    seed = seed + 1_000_003 if warm else seed
    if workload == 'dedup_skew':
        return skew_docs(seed, size['docs'], size['top_family'])
    if workload == 'extract':
        return table_docs(seed, size['docs'])
    return article_docs(seed, size['docs'])


def write_docs(rows, directory, n_files):
    """Write rows as ``n_files`` parquet parts under
    ``<directory>/documents.parquet/`` (the path ``synthesize_and_extract``
    reads), one contiguous slice of ids per part."""
    parts = os.path.join(directory, 'documents.parquet')
    os.makedirs(parts, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        table = pa.Table.from_pylist(
            [{'doc_id': d, 'text': t} for d, t in chunk], schema=DOCS_SCHEMA)
        pq.write_table(table, os.path.join(parts, 'part-%05d.parquet' % i))
    return directory

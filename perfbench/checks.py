"""Output checks that do not trust the Spark job they check.

* ``extract``: row count and status, and for a seeded sample the exact
  spans and ``content_text`` of single-process
  ``operators.extract.process_document`` over ``iter_span_docs``.
* curation jobs: one verdict row per input document; gate pass counts
  equal DuckDB running the repository's ``curation_gates`` oracle over
  the same input; each ``cluster_id`` is the minimum id of a
  union-find in this process over MinHash pairs; every exact-copy group
  lands in one cluster; the curated rows are exactly the kept ones.

Each check returns a list of error strings; empty means it passed.
"""

from __future__ import annotations

import random
import re
from collections import Counter, defaultdict

import pyarrow as pa

TOKEN_RE = re.compile('[^a-zA-Z0-9]+')
STATUS_ERROR = 'error'
ERROR_STATUSES = ('error', 'blockify_error')


def span_docs(docs, amplification):
    """``[(span doc id, source text, span dicts)]`` for ``(doc_id, text)``
    rows, in ``iter_span_docs`` order."""
    from dragnet_spark.sources.synthesis import iter_span_docs
    texts = [t for _, t in docs for _ in range(amplification)]
    pairs = iter_span_docs([d for d, _ in docs], [t for _, t in docs],
                           amplification)
    return [(sid, text, spans) for (sid, spans), text in zip(pairs, texts)]


def run_document(spans, model):
    """What the extraction job must produce for one document."""
    from dragnet_spark.operators.extract import process_document
    try:
        return process_document(spans, model)
    except Exception:  # the job maps a raising document to an error row
        return [], '', STATUS_ERROR


def token_f1(pred, gold):
    """Bag-of-words F1 of two texts over ``[a-zA-Z0-9]+`` tokens."""
    p = Counter(t for t in TOKEN_RE.split(pred) if t)
    g = Counter(t for t in TOKEN_RE.split(gold) if t)
    if not p and not g:
        return 1.0
    common = sum((p & g).values())
    if not common:
        return 0.0
    precision = common / sum(p.values())
    recall = common / sum(g.values())
    return 2 * precision * recall / (precision + recall)


def check_extract(table, docs, amplification, model, seed, sample=64):
    """``table``: the job's output (doc_id, spans, content_text, status).
    Returns ``(errors, quality)``, quality holding ``content_token_f1``
    (mean per-document F1 against the synthesis gold) and
    ``error_doc_frac``."""
    from dragnet_spark.sources.synthesis import make_document
    errors = []
    expected = span_docs(docs, amplification)
    rows = {r['doc_id']: r for r in table.to_pylist()}
    if table.num_rows != len(expected) or len(rows) != table.num_rows:
        errors.append('extract: %d rows (%d distinct ids), expected %d'
                      % (table.num_rows, len(rows), len(expected)))
    status = Counter(r['status'] for r in rows.values())
    if status[STATUS_ERROR]:
        errors.append('extract: %d rows with status error' % status[STATUS_ERROR])
    missing = [sid for sid, _, _ in expected if sid not in rows]
    if missing:
        errors.append('extract: %d documents missing, e.g. %s'
                      % (len(missing), missing[0]))
    rng = random.Random('sample:%d' % seed)
    for sid, _, spans in rng.sample(expected, min(sample, len(expected))):
        got = rows.get(sid)
        out_spans, content, st = run_document(spans, model)
        if got is None:
            continue
        if (got['content_text'], got['status']) != (content, st):
            errors.append('extract: %s content/status differs from '
                          'process_document' % sid)
        elif got['spans'] != out_spans:
            errors.append('extract: %s spans differ from process_document'
                          % sid)
    f1 = [token_f1(rows[sid]['content_text'] or '', make_document(sid, text)[1])
          for sid, text, _ in expected if sid in rows]
    quality = {
        'content_token_f1': sum(f1) / max(1, len(f1)),
        'error_doc_frac': (sum(status[s] for s in ERROR_STATUSES)
                           / max(1, len(expected))),
    }
    return errors, quality


def extracted_ok(docs, amplification, model):
    """The funnel's curation input, computed in this process:
    ``[(doc_id, content_text)]`` of the documents extracted with status
    ``ok``."""
    out = []
    for sid, _, spans in span_docs(docs, amplification):
        _, content, status = run_document(spans, model)
        if status == 'ok':
            out.append((sid, content))
    return out


def oracle_gate_counts(rows, id_type):
    """``(n_total, n_quality_pass, n_repetition_pass, n_both_pass)`` from
    DuckDB running the repository's ``curation_gates`` oracle over a
    ``documents`` view of ``rows``."""
    import duckdb
    from __spark_entry__ import oracle_sql
    documents = pa.table({'doc_id': pa.array([d for d, _ in rows], id_type),
                          'text': pa.array([t for _, t in rows], pa.string())})
    con = duckdb.connect()
    try:
        con.register('documents', documents)
        return tuple(int(v) for v in
                     con.execute(oracle_sql()['curation_gates']).fetchone())
    finally:
        con.close()


def union_find_labels(nodes, pairs):
    """Component minimum of every node over undirected ``pairs``."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def survivor_ids(verdicts):
    return [r['doc_id'] for r in verdicts
            if r['passes_quality'] == 1 and r['passes_repetition'] == 1]


def check_curation(verdicts, curated, rows, oracle_counts, pairs):
    """``verdicts``/``curated``: the job's outputs as lists of dicts;
    ``rows``: the curation input ``[(doc_id, text)]``; ``oracle_counts``:
    :func:`oracle_gate_counts` of ``rows``; ``pairs``: MinHash pairs
    over the gate survivors, computed outside the timed run."""
    errors = []
    text = dict(rows)
    per_id = Counter(r['doc_id'] for r in verdicts)
    dup = [d for d, n in per_id.items() if n > 1]
    if dup or set(per_id) != set(text):
        errors.append('verdicts: %d rows for %d input docs (%d duplicated, '
                      '%d missing, %d unknown)'
                      % (len(verdicts), len(text), len(dup),
                         len(set(text) - set(per_id)),
                         len(set(per_id) - set(text))))
    counts = (len(verdicts),
              sum(r['passes_quality'] == 1 for r in verdicts),
              sum(r['passes_repetition'] == 1 for r in verdicts),
              len(survivor_ids(verdicts)))
    if counts != tuple(oracle_counts):
        errors.append('gates: counts %s, DuckDB oracle %s'
                      % (counts, tuple(oracle_counts)))
    surv = set(survivor_ids(verdicts))
    labels = union_find_labels(surv, pairs)
    bad = []
    for r in verdicts:
        d = r['doc_id']
        if d in surv:
            want = (labels[d], int(labels[d] == d), int(labels[d] == d), True)
        else:
            want = (None, None, 0, None)
        got = (r['cluster_id'], r['is_canonical'], r['kept'], r['converged'])
        if got != want:
            bad.append((d, got, want))
    if bad:
        errors.append('clusters: %d docs differ from the union-find, e.g. '
                      '%s got %s want %s' % ((len(bad),) + bad[0]))
    cluster = {r['doc_id']: r['cluster_id'] for r in verdicts}
    groups = defaultdict(set)
    for d, t in rows:
        groups[t].add(cluster.get(d, 'missing'))
    split = sum(1 for c in groups.values() if len(c) > 1)
    if split:
        errors.append('clusters: %d exact-copy groups span several clusters'
                      % split)
    kept = sorted(r['doc_id'] for r in verdicts if r['kept'] == 1)
    got = sorted(r['doc_id'] for r in curated)
    if got != kept:
        errors.append('curated: %d rows, %d kept verdicts' % (len(got), len(kept)))
    wrong_text = sum(1 for r in curated if r['text'] != text.get(r['doc_id']))
    if wrong_text:
        errors.append('curated: %d rows carry another text' % wrong_text)
    return errors

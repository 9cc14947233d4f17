"""Deterministic synthetic span-document corpus (FIXTURES.md §1-2).

Builds the BASELINE.json ``input_hint`` table
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>)``
plus a per-document gold table, from the driver-generated
``documents.parquet`` text -- no external data, no wall-clock, no RNG
(every choice is keyed off ``md5(doc_id)``).

Documents are rendered as boilerplate-laden HTML shaped like the
reference's test corpus (``test/datafiles/HTML/page_for_testing.html``):
nav chrome, an ``<h1>``, a content div of ``<p>``/``<blockquote>`` blocks
with one inline anchor, a comments div with a spam link, a link-only
footer.  ~1/3 of documents carry interleaved ``media`` spans (dragnet
blacklists ``img`` -- media bypasses classification and must reappear
verbatim, SURVEY.md §7).  The HTML is split into several text spans at
deterministic offsets to exercise span reassembly.

Skew (FIXTURES.md §6): ~30% of doc_ids share one host prefix so the
shuffle/salting machinery has something real to chew on.
"""

from __future__ import annotations

import hashlib
import re

import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

from ..model import default_model
from ..operators.extract import (EXTRACTED_PA_SCHEMA, SPANS_TYPE,
                                 extracted_row, map_doc_rows)

SPANS_SCHEMA = pa.schema([('doc_id', pa.string()), ('spans', SPANS_TYPE)])

GOLD_SCHEMA = pa.schema([
    ('doc_id', pa.string()),
    ('content_text', pa.string()),
    ('comments_text', pa.string()),
])

NAV_HTML = ('<div class="nav"><a href="/">Home</a> <a href="/news">News</a> '
            '<a href="/about">About</a> <a href="/contact">Contact</a></div>')
FOOTER_HTML = ('<div class="footer"><a href="/terms">Terms of use</a> '
               '<a href="/privacy">Privacy policy</a></div>')
SIDEBAR_HTML = ('<div class="sidebar widget"><a href="/top">Top stories</a> '
                '<a href="/trending">Trending now</a> '
                '<a href="/popular">Most popular posts</a></div>')
COMMENT_SPAM = '<a href="http://spam.example/win">click here to win</a>'

# alternative chrome for the re-skin (mirror-site) near-duplicate demo:
# same article content syndicated under a different template -- enough
# differing boilerplate tokens that raw-HTML near-dup detection misses
# the pair while extracted-content near-dup finds it
ALT_NAV_HTML = ('<ul class="topnav"><li><a href="/">Front page</a></li>'
                '<li><a href="/world">World desk</a></li>'
                '<li><a href="/sport">Sport section</a></li>'
                '<li><a href="/weather">Local weather</a></li>'
                '<li><a href="/archive">Story archive</a></li></ul>')
ALT_SIDEBAR_HTML = (
    '<div class="promo rail"><h3><a href="/offers">From our partners</a>'
    '</h3>'
    '<p><a href="/subscribe">Subscribe today</a> for '
    '<a href="/digital">unlimited digital access</a> to '
    '<a href="/desks">every desk</a>, '
    '<a href="/newsletters">exclusive newsletters</a>, '
    '<a href="/puzzles">daily puzzles</a> and the '
    '<a href="/magazine">weekend magazine</a></p>'
    '<p><a href="/app">Download our mobile application</a> for '
    '<a href="/alerts">breaking alerts</a>, '
    '<a href="/scores">live scores</a>, '
    '<a href="/offline">offline reading</a> and '
    '<a href="/foryou">personalised recommendations</a></p></div>')
ALT_FOOTER_HTML = ('<div class="sitefooter"><a href="/imprint">Imprint</a> '
                   '<a href="/advertising">Advertise with us</a> '
                   '<a href="/careers">Careers</a> '
                   '<a href="/accessibility">Accessibility statement</a>'
                   '</div>')

# phase-3 chrome (synthesize_hard_corpus): two more template families
# with non-English boilerplate -- extraction must not depend on English
# chrome tokens (densities/tag features are language-agnostic), and
# template mining gets four cross-host families to find
DE_NAV_HTML = ('<div class="navigation"><a href="/">Startseite</a> '
               '<a href="/nachrichten">Nachrichten</a> '
               '<a href="/wirtschaft">Wirtschaft</a> '
               '<a href="/impressum">Impressum</a></div>')
DE_SIDEBAR_HTML = ('<div class="seitenleiste widget">'
                   '<a href="/meistgelesen">Meistgelesene Artikel</a> '
                   '<a href="/newsletter">Newsletter abonnieren</a> '
                   '<a href="/abo">Digitalabo ab 9 Euro</a></div>')
DE_FOOTER_HTML = ('<div class="fusszeile"><a href="/agb">AGB</a> '
                  '<a href="/datenschutz">Datenschutzerklärung</a> '
                  '<a href="/kontakt">Kontakt aufnehmen</a></div>')
ZH_NAV_HTML = ('<div class="daohang"><a href="/">首页</a> '
               '<a href="/xinwen">新闻中心</a> '
               '<a href="/caijing">财经频道</a> '
               '<a href="/lianxi">联系我们</a></div>')
ZH_SIDEBAR_HTML = ('<div class="cebian widget">'
                   '<a href="/remen">热门文章排行'
                   '</a> <a href="/dingyue">订阅电子报'
                   '</a> <a href="/xiazai">下载客户端'
                   '</a></div>')
ZH_FOOTER_HTML = ('<div class="yejiao"><a href="/banquan">版权'
                  '声明</a> <a href="/yinsi">隐私'
                  '政策</a> <a href="/zhaopin">招聘'
                  '信息</a></div>')

CHROME_SETS = {
    'default': (NAV_HTML, SIDEBAR_HTML, FOOTER_HTML),
    'alt': (ALT_NAV_HTML, ALT_SIDEBAR_HTML, ALT_FOOTER_HTML),
    'de': (DE_NAV_HTML, DE_SIDEBAR_HTML, DE_FOOTER_HTML),
    'zh': (ZH_NAV_HTML, ZH_SIDEBAR_HTML, ZH_FOOTER_HTML),
}
TEMPLATE_FAMILIES = ('default', 'alt', 'de', 'zh')

_WS = re.compile(r'\s+')


def _norm(s):
    return ' '.join(t for t in _WS.split(s) if t)


def _h(s, mod):
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], 'big') % mod


def _sentences(text, doc_key):
    parts = [p.strip() for p in re.split(r'(?<=[.!?])\s+', text) if p.strip()]
    if not parts:
        parts = ['empty document body %s' % doc_key]
    return parts


def make_document(doc_id: str, text: str, chrome: str = 'default',
                  layout_key: str = None):
    """One deterministic span-doc + gold pair.

    Returns (spans, content_text, comments_text) where spans is a list of
    (kind, text, media_ref, offset) tuples.

    ``chrome='alt'`` renders the same content under a different template
    (mirror-site syndication) -- a near-duplicate of the default
    rendering whose boilerplate tokens differ.  ``layout_key`` overrides
    the hash key for layout decisions so a mirror keeps its source's
    paragraph/comment dealing (default: doc_id).
    """
    lk = layout_key if layout_key is not None else doc_id
    sents = _sentences(text, lk)
    # deal sentences round-robin: title, 2-4 paragraphs, quote, 1-2 comments
    n_paras = 2 + _h(lk + ':np', 3)           # 2..4
    n_comments = 1 + _h(lk + ':nc', 2)        # 1..2
    title = _norm(_norm(sents[0])[:80]) or 'Untitled'
    nav, sidebar, footer = CHROME_SETS.get(chrome, CHROME_SETS['default'])

    paras = [[] for _ in range(n_paras)]
    quote = []
    comments = [[] for _ in range(n_comments)]
    pool = sents[1:] or sents
    for i, s in enumerate(pool):
        slot = i % (n_paras + 1 + n_comments)
        if slot < n_paras:
            paras[slot].append(s)
        elif slot == n_paras:
            quote.append(s)
        else:
            comments[slot - n_paras - 1].append(s)
    paras = [_norm(' '.join(p)) or ('paragraph %d of %s' % (i, lk))
             for i, p in enumerate(paras)]
    quote_text = _norm(' '.join(quote))
    comments = [_norm(' '.join(c)) or ('comment %d on %s' % (i, lk))
                for i, c in enumerate(comments)]

    # ~40% of docs are "hard": content-like boilerplate (related-article
    # fragments built from the doc's own sentences), an extra inline
    # anchor inside a content paragraph, and a cookie banner -- the
    # ambiguity real de-chroming corpora carry
    hard = _h(lk + ':hard', 10) < 4

    # content div: paragraphs, one inline anchor inside paragraph 0,
    # optional blockquote
    anchor_words = ' '.join(paras[0].split()[:3]) or 'read more here'
    p0_rest = ' '.join(paras[0].split()[3:])
    content_parts = ['<h1>%s</h1>' % title, '<div id="content" class="article">']
    content_parts.append(
        '<p><a href="/story/%s">%s</a> %s</p>' % (_h(lk, 10 ** 6),
                                                  anchor_words, p0_rest))
    for pi, p in enumerate(paras[1:], start=1):
        if hard and pi == 1 and len(p.split()) > 6:
            toks = p.split()
            p = '%s <a href="/ref/%d">%s</a> %s' % (
                ' '.join(toks[:2]), _h(lk + ':a2', 10 ** 4),
                ' '.join(toks[2:5]), ' '.join(toks[5:]))
        content_parts.append('<p>%s</p>' % p)
    if quote_text:
        content_parts.append('<blockquote>%s</blockquote>' % quote_text)
    content_parts.append('</div>')
    content_html = '\n'.join(content_parts)

    extra_boilerplate = ''
    if hard:
        frags = [' '.join(p.split()[:6]) for p in paras[:2]]
        related = ''.join(
            '<li><a href="/related/%d">%s ...</a></li>'
            % (_h(lk + str(i), 10 ** 4), f)
            for i, f in enumerate(frags) if f)
        extra_boilerplate = (
            '<div class="related widget"><h3>Related stories</h3>'
            '<ul>%s</ul></div>'
            '<div id="cookie-banner" class="banner">We use cookies to '
            'improve your experience on this site. <a href="/cookies">'
            'Accept all cookies</a> or review your settings.</div>'
            % related)

    comment_divs = ''.join(
        '<div id="comment%d"><p>%s%s</p></div>'
        % (i, c, (' ' + COMMENT_SPAM) if i == 0 and _h(lk + ':spam', 2) else '')
        for i, c in enumerate(comments))
    comments_html = '<div class="begin_comments">%s</div>' % comment_divs

    html_head = '<html><body>\n' + nav + '\n'
    html_tail = '\n'.join(['', sidebar + extra_boilerplate,
                           comments_html, footer, '</body></html>'])

    # gold: what the blockifier emits for the content region, normalized.
    # anchor text joins its block (blocks.pyx:485-515) so paragraph 0 is
    # intact; h1 and each paragraph is one block; blockquote is NOT a
    # block boundary (not in BLOCKS) so its text joins the preceding
    # paragraph's block -- cf. the reference big-html vector
    # ('Second paragraph Insert a block quote here').
    gold_lines = [title] + [_norm(p) for p in paras]
    if quote_text:
        gold_lines[-1] = gold_lines[-1] + ' ' + quote_text
    gold_content = '\n'.join(gold_lines)
    gold_comments = '\n'.join(comments)

    # spans: split deterministically; ~1/3 of docs get media spans which
    # act as hard run boundaries between top-level sections
    has_media = _h(lk + ':media', 3) == 0
    spans = []

    def add_text(fragment):
        # split long fragments into 1-3 spans at whitespace boundaries
        n = 1 + _h(doc_id + str(len(spans)), 3) if len(fragment) > 120 else 1
        step = max(1, len(fragment) // n)
        pos = 0
        for k in range(n):
            end = len(fragment) if k == n - 1 else fragment.rfind(' ', pos, pos + step)
            if end <= pos:
                end = len(fragment)
            spans.append(('text', fragment[pos:end], '', len(spans)))
            pos = end
            if pos >= len(fragment):
                break

    add_text(html_head + content_html)
    if has_media:
        n_media = 1 + _h(lk + ':nm', 2)
        for m in range(n_media):
            spans.append(('media', '', 'img://%s/%d.jpg' % (doc_id, m),
                          len(spans)))
    add_text(html_tail)
    return spans, gold_content, gold_comments


# coverage docs for every blockifier edge case (FIXTURES.md §1)
EDGE_DOCS = [
    ('edge/script-style', '<div>some text <script>var x = "<div>skip</div>";'
     '</script><style>.x{}</style> more text here</div>'
     '<div>closing paragraph of content</div>', 'some text more text here'
     '\nclosing paragraph of content'),
    ('edge/nested-blocks', '<div>outer <p>inner paragraph block</p>'
     '<div>nested div text <div>deeper</div>tail</div></div>',
     'outer\ninner paragraph block\nnested div text\ndeeper tail'),
    ('edge/img-anchor', '<div>an image link <a href="."><img src="x.jpg">'
     '</a> there</div><p>real content paragraph</p><p>closing words</p>',
     'an image link there\nreal content paragraph\nclosing words'),
    ('edge/unicode', '<div>δογ report</div><p>été du texte français</p>'
     '<p>报道一出 中文内容</p>', 'δογ report\nété du texte français'
     '\n报道一出 中文内容'),
    ('edge/punct-only', '<div> .! </div><p>actual words</p><p> ! _ </p>'
     '<p>more words</p>', '.!\nactual words\nmore words'),
    ('edge/unparseable', '<!--', ''),
    ('edge/too-few-blocks', '<div>only one tiny block</div>', ''),
]


def _span_dicts(spans):
    return [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for k, t, m, o in spans]


def _iter_docs(did, text, amplification=1, chrome_by_host=False):
    """Yield ``(doc_id, span_dicts, gold_content, gold_comments)`` for
    the ``amplification`` synthetic documents of one source row -- the
    one id scheme (~30% of ids on host ``h000``, FIXTURES.md §6) and
    rendering every synthesis path shares.

    ``chrome_by_host=True`` is the phase-3 "hard" corpus: each HOST is
    deterministically assigned one of the four chrome template families
    (default/alt/de/zh), so templates cross hosts and ~half the chrome
    is non-English -- the gold tables are unchanged (chrome is
    boilerplate), but extraction can no longer key on any one template
    and template mining has real cross-host families to find.
    """
    for rep in range(amplification):
        h = _h('%s:%d' % (did, rep), 10)
        host = ('h000' if h < 3
                else 'h%03d' % (1 + _h('%s:%d:host' % (did, rep), 97)))
        sid = '%s/doc-%08d-%d' % (host, did, rep)
        chrome = (TEMPLATE_FAMILIES[_h(host + ':tpl', len(TEMPLATE_FAMILIES))]
                  if chrome_by_host else 'default')
        spans, gold_c, gold_m = make_document(sid, text or '', chrome=chrome)
        yield sid, _span_dicts(spans), gold_c, gold_m


def synthesize_batches(doc_batch, amplification=1, chrome_by_host=False):
    """documents.parquet RecordBatch -> (spans RecordBatch, gold RecordBatch).

    Pure function of the input rows (executor-safe, order-independent);
    see :func:`_iter_docs` for ``chrome_by_host``.
    """
    span_rows, gold_rows = [], []
    for did, text in zip(doc_batch.column('doc_id').to_pylist(),
                         doc_batch.column('text').to_pylist()):
        for sid, spans, gold_c, gold_m in _iter_docs(did, text, amplification,
                                                     chrome_by_host):
            span_rows.append({'doc_id': sid, 'spans': spans})
            gold_rows.append({'doc_id': sid, 'content_text': gold_c,
                              'comments_text': gold_m})
    spans_rb = pa.RecordBatch.from_pylist(span_rows, schema=SPANS_SCHEMA)
    gold_rb = pa.RecordBatch.from_pylist(gold_rows, schema=GOLD_SCHEMA)
    return spans_rb, gold_rb


def edge_docs_dfs(spark):
    """(spans_df, gold_df) for the fixed edge-case docs (FIXTURES.md §1)
    -- the tiny union branch of ``synthesize_corpus(include_edge_docs=
    True)``, also attached by the fused single-stage queries so their
    output matches it."""
    span_rows = [{'doc_id': sid, 'spans': [
        {'kind': 'text', 'text': html, 'media_ref': '', 'offset': 0}]}
        for sid, html, _ in EDGE_DOCS]
    gold_rows = [{'doc_id': sid, 'content_text': gold, 'comments_text': ''}
                 for sid, _, gold in EDGE_DOCS]
    return (spark.createDataFrame(span_rows, from_arrow_schema(SPANS_SCHEMA)),
            spark.createDataFrame(gold_rows, from_arrow_schema(GOLD_SCHEMA)))


def _spread_docs(spark, sf_dir, num_partitions=None):
    """documents.parquet ``(doc_id, text)``, round-robin spread over
    ``num_partitions`` (default ``defaultParallelism``: one Python task
    per core; 0 keeps the file splits, for plan inspection).

    The downstream Arrow stages (synthesis, blockify, featurize,
    classify) are Python-heavy per row, so parallelism must come from
    an explicit spread of the *cheap* doc rows before the fat work, not
    from file splits: one tiny round-robin exchange of (doc_id, text)
    rows, then everything stays narrow.  Catalyst prunes the scan to
    (doc_id, text) (ReadSchema).

    One task per core, not more: each PySpark Python task pays a fixed
    set-up before its UDF sees a row -- 130-190 ms on pyspark 4.1.2 /
    Python 3.11 on a 4-core host, nearly all in
    ``pyspark.worker_util.setup_spark_files``, whose
    ``importlib.invalidate_caches()`` makes each of the worker's ~16
    zipimporters re-read the directory of ``pyspark.zip``
    (``scripts/python_task_cost.py`` re-measures it).  Every input is
    spread, also one that already has a split per core: returning such
    a scan untouched measured the same ``extract`` wall, and a layout
    of unequal or cores+1 files would leave a straggler task.
    ``spread_small_scan``'s rows-scaled target (~600 rows per task) is
    not reused: it was sized for cheap gate stages, while one source
    row here costs ~2.6 ms of kernel time at amplification 4, so even a
    1,200-row input must get one task per core.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').select(
        'doc_id', 'text')
    return docs.repartition(num_partitions) if num_partitions else docs


def synthesize_fused(spark, sf_dir, per_doc_rows, pa_schema,
                     amplification=1, num_partitions=None):
    """Synthesis + an arbitrary per-document kernel in ONE python stage.

    The two-stage form (``synthesize_corpus`` -> join/mapInArrow) pays
    the Arrow boundary twice with fat nested span rows, and any consumer
    that also needs the gold table pays a SECOND full synthesis pass
    (``gen_gold`` re-renders every document and discards the spans) plus
    a doc_id shuffle join of two opaque python outputs (guide §4.1: you
    control how many columns/rows cross the boundary).  Here
    ``per_doc_rows(sid, span_dicts, gold_content, gold_comments)`` runs
    right where the document is synthesized (:func:`_iter_docs`), so
    spans and gold never cross the boundary at all, only the kernel's
    ``pa_schema`` output rows (batches bounded by
    ``operators.extract.doc_row_batches``).

    Covers the parquet corpus only; callers wanting edge-doc parity
    union the tiny :func:`edge_docs_dfs` branch.
    """

    def per_row(did, text):
        for sid, spans, gold_c, gold_m in _iter_docs(did, text,
                                                     amplification):
            yield from per_doc_rows(sid, spans, gold_c, gold_m)

    return map_doc_rows(_spread_docs(spark, sf_dir, num_partitions),
                        per_row, pa_schema)


def synthesize_extract_gold_counts(spark, sf_dir, amplification=1,
                                   model=None, num_partitions=None):
    """Synthesis + extraction + token-F1 COUNT columns in one python
    stage: ``(doc_id, _tp, _np, _na)`` -- the distinct-token
    intersection/size counts of ``metrics.token_f1_per_doc``, computed
    with python set ops right where content and gold are born.  The
    JVM twin re-tokenized both 2 KB texts per doc with regex split +
    array_distinct + array_intersect (~4.3 s of a 9.6 s query at 50 k
    docs); the tokenizer here is the same ASCII class
    (``text_analysis.py_tokens``), on which Java and Python regex agree
    codepoint-for-codepoint, and the emitted counts are exact ints, so
    the downstream ratio arithmetic is bit-identical."""
    from ..operators.text_analysis import py_tokens

    model = model or default_model()
    schema = pa.schema([('doc_id', pa.string()), ('_tp', pa.int32()),
                        ('_np', pa.int32()), ('_na', pa.int32())])

    def per_doc(sid, span_dicts, gold_c, gold_m):
        content = extracted_row(sid, span_dicts, model)['content_text']
        p = set(py_tokens(content))
        a = set(py_tokens(gold_c))
        return [{'doc_id': sid, '_tp': len(p & a), '_np': len(p),
                 '_na': len(a)}]

    return synthesize_fused(spark, sf_dir, per_doc, schema, amplification,
                            num_partitions)


def synthesize_corpus(spark, sf_dir, amplification=1, include_edge_docs=True,
                      num_partitions=None, chrome_by_host=False):
    """Distributed corpus synthesis: returns (spans_df, gold_df), each
    one Arrow stage over the spread doc rows (:func:`_spread_docs`)."""
    docs = _spread_docs(spark, sf_dir, num_partitions)

    def gen_spans(batches):
        for rb in batches:
            out, _ = synthesize_batches(rb, amplification, chrome_by_host)
            yield out

    def gen_gold(batches):
        for rb in batches:
            _, out = synthesize_batches(rb, amplification, chrome_by_host)
            yield out

    spans_df = docs.mapInArrow(gen_spans, from_arrow_schema(SPANS_SCHEMA))
    gold_df = docs.mapInArrow(gen_gold, from_arrow_schema(GOLD_SCHEMA))

    if include_edge_docs:
        edge_spans, edge_gold = edge_docs_dfs(spark)
        spans_df = spans_df.unionByName(edge_spans)
        gold_df = gold_df.unionByName(edge_gold)
    return spans_df, gold_df


def synthesize_hard_corpus(spark, sf_dir, amplification=1,
                           num_partitions=None):
    """Phase-3 corpus: four cross-host chrome template families incl.
    German/Chinese boilerplate; same gold tables as the default corpus
    (chrome is boilerplate, content is unchanged)."""
    return synthesize_corpus(spark, sf_dir, amplification,
                             include_edge_docs=False,
                             num_partitions=num_partitions,
                             chrome_by_host=True)


def synthesize_with_mirrors(spark, sf_dir, mod=8, num_partitions=None):
    """Corpus + re-skinned near-duplicate mirrors (dedup x extraction
    showcase): every doc whose hash lands on ``mod`` also appears as
    ``mirror/<doc_id>`` -- same article content dealt by the source's
    layout key, rendered under the alternative chrome.  Raw-HTML near-dup detection misses these pairs (the
    differing template dominates the token stream); near-dup over
    *extracted* content finds them.

    Returns the spans DataFrame (the number of mirror pairs is data
    dependent).
    """

    def per_row(did, text):
        for sid, spans, _, _ in _iter_docs(did, text):
            yield {'doc_id': sid, 'spans': spans}
            if _h(sid + ':mirror', mod) == 0:
                mirror, _, _ = make_document('mirror/' + sid, text or '',
                                             chrome='alt', layout_key=sid)
                yield {'doc_id': 'mirror/' + sid,
                       'spans': _span_dicts(mirror)}

    return map_doc_rows(_spread_docs(spark, sf_dir, num_partitions),
                        per_row, SPANS_SCHEMA)


def iter_span_docs(doc_ids, texts, amplification=1):
    """Yield (doc_id, span_dicts) per synthesized document -- the same id
    scheme and rendering as :func:`synthesize_batches`, without the
    intermediate Arrow materialization."""
    for did, text in zip(doc_ids, texts):
        for sid, spans, _, _ in _iter_docs(did, text, amplification):
            yield sid, spans


def synthesize_and_extract(spark, sf_dir, amplification=1, model=None,
                           num_partitions=None):
    """Synthesis + fused extraction in ONE python stage.

    The two-stage form (synthesize_corpus -> extract) crosses the
    JVM/Python Arrow boundary twice with fat nested span rows; for the
    benchmark/batch-job shape (parquet docs in, extracted rows out) the
    span structs never need to exist JVM-side at all.  Same output as
    extract(synthesize_corpus(...)[0]) for the no-edge-docs corpus
    (asserted in tests)."""
    model = model or default_model()

    def per_doc(sid, span_dicts, gold_c, gold_m):
        return [extracted_row(sid, span_dicts, model)]

    return synthesize_fused(spark, sf_dir, per_doc, EXTRACTED_PA_SCHEMA,
                            amplification, num_partitions)

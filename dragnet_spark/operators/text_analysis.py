"""Text-analysis operators for large-scale training-data pipelines.

Token counting, quality scoring, n-gram-heuristic language ID,
rolling-hash document fingerprinting.  Each has a DuckDB oracle in
``__spark_entry__.py``; regex patterns are restricted to dialect-safe
ASCII / explicit-codepoint classes (Java vs RE2 vs python ``\\W``
unicode semantics differ).

r06: the per-document COUNTING moved from JVM expressions into one
Arrow python stage per operator (``_counts_stage``) after a pure-JVM
microbenchmark showed java.util.regex on the measurement hardware is
~30x slower than CPython's engine per split AND hard-ceilinged per JVM
across threads; every ratio / CASE / rounding stays in the JVM over the
same integers, so outputs (and the frozen DuckDB oracles) are
bit-identical.  Both Gopher gates count there too (:func:`gopher_gates`
runs them from one stage); only three integers per document cross back
to the JVM for the repetition gate.  The stage is a per-row function
and one Arrow schema run through ``extract.map_doc_rows``, the batch
loop every per-document Python stage shares; ``keep_cols`` ride through
it as Python values.

Lowercasing: the stage lowers with python ``str.lower()`` where the JVM
operators (``tokens_col(lower=True)``) use Spark ``lower()``.  Tokens
keep only ASCII ``[a-zA-Z0-9]`` runs, so the two agree whenever their
case mappings agree on which characters become ASCII letters -- true
for the locale-independent mappings (Kelvin sign -> ``k``, ``İ`` ->
``i`` + U+0307) and assumed of the JVM default locale: a Turkic default
locale (``tr``/``az``), whose ``I`` -> dotless ``ı`` drops the letter,
is not supported.  Pinned on non-ASCII rows in tests.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .extract import map_doc_rows

# [\W_]+ restricted to ASCII so Spark (Java regex) and DuckDB (RE2)
# tokenize identically in oracle-paired queries
TOKEN_PATTERN = '[^a-zA-Z0-9]+'
_ALNUM_SPACE = ('abcdefghijklmnopqrstuvwxyz'
                'ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ')

STOPWORDS = {
    'en': ['the', 'and', 'of', 'to', 'in', 'is', 'was', 'that', 'for', 'with'],
    'de': ['der', 'die', 'das', 'und', 'ist', 'nicht', 'mit', 'ein', 'eine', 'zu'],
    'fr': ['le', 'les', 'et', 'des', 'une', 'est', 'dans', 'pour', 'qui', 'au'],
    'es': ['el', 'los', 'las', 'que', 'por', 'una', 'es', 'para', 'como', 'su'],
}


def tokens_col(col, lower=False):
    c = F.lower(col) if lower else col
    return F.array_remove(F.split(c, TOKEN_PATTERN), '')


def tokens_barrier(df, text_col='text', id_col='doc_id', out_id='_id',
                   lower=False, toks_col='_toks'):
    """``(out_id, toks_col)`` with the token array MATERIALIZED behind
    an ``explode(array(1))`` collapse barrier.

    The canonical prelude for any operator that maps a lambda over the
    token array (n-grams, chunk windows): lambda bodies are opaque to
    Catalyst subexpression elimination, so an inline tokenizer
    expression is re-evaluated once PER ELEMENT (measured ~10-20x on
    passage mining); behind the Generate barrier the tokens are a bound
    attribute, computed once per row.  One shared definition keeps the
    tokenizer in lockstep with :func:`tokens_col` and the DuckDB
    oracles that re-derive it.
    """
    return (df.select(F.col(id_col).alias(out_id),
                      tokens_col(F.col(text_col), lower=lower)
                      .alias(toks_col),
                      F.explode(F.array(F.lit(1))).alias('_b'))
            .drop('_b'))


def token_counts(df, text_col='text'):
    """Whitespace/punct token counts + distinct counts per document.

    r06: counts come from the Arrow counts stage (see
    :func:`_counts_stage` -- the JVM regex engine is both slow and
    thread-ceilinged on the measurement hardware); same integers, same
    output schema."""
    c = _counts_stage(df, text_col, raw=True)
    return c.select(
        'doc_id',
        F.col('_n_tokens').alias('n_tokens'),
        F.col('_n_distinct').alias('n_distinct_tokens'),
        F.col('_n_chars').alias('n_chars_text'),
    )


def _quality_score_exprs():
    """``punct_ratio``, ``en_stopword_hits``, ``mean_token_len`` and
    ``quality_ok`` of :func:`quality_scores` over the counts stage's
    ``lower``/``alnum`` fields and its ``en`` stopword hits."""
    n_chars = F.col('_n_chars')
    n_tokens = F.col('_n_tokens_lower')
    mean_tok = (n_chars.cast('double')
                / F.greatest(n_tokens, F.lit(1)).cast('double'))
    return [
        ((n_chars - F.col('_n_alnum_sp')).cast('double')
         / F.greatest(n_chars, F.lit(1)).cast('double')).alias('punct_ratio'),
        F.col('_h_en').cast('long').alias('en_stopword_hits'),
        mean_tok.alias('mean_token_len'),
        ((n_tokens >= 10) & (mean_tok < 12.0)).cast('long').alias('quality_ok'),
    ]


def quality_scores(df, text_col='text'):
    """Length / punctuation / stopword-ratio quality features.

    The classic pre-training quality filters (C4-style) as pure column
    expressions; ratios are per-row int/int divisions so the DuckDB
    oracle reproduces them bit-exactly.
    """
    # r06: the counts come from the Arrow stage (JVM regex ceiling, see
    # _counts_stage); the ratio arithmetic (_quality_score_exprs) is the
    # UNCHANGED expression tree over the same integers, so every double
    # is bit-identical and the oracle hashes are untouched.
    c = _counts_stage(df, text_col, lower=True, hits=('en',), alnum=True)
    return c.select(
        'doc_id',
        F.col('_n_chars').cast('long').alias('n_chars_text'),
        F.col('_n_tokens_lower').cast('long').alias('n_tokens'),
        *_quality_score_exprs(),
    )


GOPHER_STOPWORDS = ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def _quality_exprs():
    """``(stat columns, passes)`` of the Gopher quality gate over the
    counts stage's ``words`` fields; every ratio is an int/int division,
    so the gate doubles and the DuckDB oracle hashes are bit-identical
    to the old all-JVM expression tree."""
    n_words = F.col('_n_words')
    # a null text's mean word length is 0.0 (as in the DuckDB oracle),
    # so its ``passes`` is 0 (null AND false), not null
    sum_word_len = F.coalesce('_sum_word_len', F.lit(0))
    mean_word_len = (sum_word_len.cast('double')
                     / F.greatest(n_words, F.lit(1)).cast('double'))
    n_hash = F.col('_n_hash')
    n_ellipsis = F.col('_ell_lendiff') / 3
    symbol_ratio = ((n_hash + n_ellipsis).cast('double')
                    / F.greatest(n_words, F.lit(1)).cast('double'))
    alpha_words = F.col('_alpha_words')
    alpha_frac = (alpha_words.cast('double')
                  / F.greatest(n_words, F.lit(1)).cast('double'))
    stop_hits = F.col('_stop_hits')
    passes = ((n_words >= GOPHER_MIN_WORDS)
              & (n_words <= GOPHER_MAX_WORDS)
              & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
              & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
              & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
              & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
              & (stop_hits >= GOPHER_MIN_STOPWORD_HITS))
    stats = [
        n_words.cast('long').alias('n_words'),
        F.round(mean_word_len, 6).alias('mean_word_len'),
        F.round(symbol_ratio, 6).alias('symbol_ratio'),
        F.round(alpha_frac, 6).alias('alpha_word_frac'),
        stop_hits.cast('long').alias('stopword_hits'),
    ]
    # 0/1 rather than boolean so the oracle hash is dtype-stable
    return stats, passes.cast('long')


def gopher_quality_flags(df, text_col='text', keep_cols=()):
    """Gopher-rule document filter (Rae et al. 2021, arXiv:2112.11446
    Appendix A1.1 -- the canonical pre-training quality gate):

    * word count in [50, 100k], mean word length in [3, 10]
    * symbol-to-word ratio (``#`` / ``...``) <= 0.1
    * >= 80% of words contain an alphabetic character
    * >= 2 distinct Gopher stop words present

    Words here are whitespace-split (Gopher's definition), unlike the
    punctuation-split ``tokens_col`` the other analyzers use.  Every
    ratio is an int/int division, so the DuckDB oracle reproduces the
    doubles bit-exactly; ``passes`` is the conjunction, computed
    identically both sides.  At 10^12 docs this is one narrow Arrow
    stage plus one projection -- no shuffle, no join.  ``keep_cols``
    ride through the Arrow batch so callers get flags + payload without
    a corpus-wide re-join.
    """
    stats, passes = _quality_exprs()
    return (_counts_stage(df, text_col, words=True, keep_cols=keep_cols)
            .select('doc_id', *keep_cols, *stats, passes.alias('passes')))


GOPHER_MAX_TOP2GRAM_FRAC = 0.20
GOPHER_MAX_DUP10GRAM_FRAC = 0.10


def _repetition_exprs(max_top2, max_dup10):
    """The Gopher repetition gate's fraction and pass columns over the
    counts stage's ``rep`` fields (null text: 0.0 fractions, passes)."""
    chars = F.greatest('_tok_chars', F.lit(1)).cast('double')
    top2f = F.coalesce('_top2', F.lit(0)).cast('double') / chars
    dupf = F.coalesce('_dup10', F.lit(0)).cast('double') / chars
    passes = (top2f <= max_top2) & (dupf <= max_dup10)
    return [F.round(top2f, 6).alias('top_2gram_char_frac'),
            F.round(dupf, 6).alias('dup_10gram_char_frac'),
            passes.cast('long').alias('passes_repetition')]


def gopher_repetition_flags_rowwise(df, text_col='text',
                                    max_top2=GOPHER_MAX_TOP2GRAM_FRAC,
                                    max_dup10=GOPHER_MAX_DUP10GRAM_FRAC,
                                    keep_cols=()):
    """Gopher repetition rules (Rae et al. 2021 A1.1, the other half of
    the quality gate): documents dominated by a repeated phrase are
    SEO/boilerplate spam.

    * ``top_2gram_char_frac`` -- token characters of the most frequent
      2-gram (token chars x occurrences) over the document's total
      token characters; gate <= ``max_top2`` (0.20).
    * ``dup_10gram_char_frac`` -- POSITIONAL coverage: token characters
      at positions covered by at least one occurrence of a 10-gram
      that appears more than once, over total token characters --
      each position counts once no matter how many duplicated grams
      overlap it (the paper's definition; an occurrence-weighted sum
      overshoots past 1.0 on overlapping repeats and voids the
      threshold); gate <= ``max_dup10`` (0.10).

    Tokens are lowercased punctuation-split (``tokens_col``); the
    character base is the sum of token lengths (no separators),
    identically in the DuckDB ``gopher_repetition`` oracle, so both
    fractions hash-match it bit-exactly (crafted spam/short/empty rows
    are pinned against the oracle in tests).

    The three integers per document come from the Arrow counts stage
    (``_counts_stage(rep=True)``); the ratios, rounding and thresholds
    are JVM expressions.  One stateless stage -- no groupBy, no join,
    no shuffle -- so it is legal in a Structured Streaming pipeline,
    and the Python stage stops predicate pushdown: a downstream
    ``.where(passes_repetition = 1)`` filters its output and never
    re-enters the counting.
    """
    return (_counts_stage(df, text_col, rep=True, keep_cols=keep_cols)
            .select('doc_id', *keep_cols,
                    *_repetition_exprs(max_top2, max_dup10)))


def _gate_cols(max_top2, max_dup10):
    """:func:`gopher_gates`' columns over a ``words`` + ``rep`` stage."""
    stats, passes = _quality_exprs()
    return [*stats, passes.alias('passes_quality'),
            *_repetition_exprs(max_top2, max_dup10)]


def gopher_gates(df, max_top2=GOPHER_MAX_TOP2GRAM_FRAC,
                 max_dup10=GOPHER_MAX_DUP10GRAM_FRAC, keep_cols=()):
    """Both Gopher gates from ONE counts stage over ``(doc_id, text)``:
    the quality stats of :func:`gopher_quality_flags` (its ``passes`` as
    ``passes_quality``), then the columns of
    :func:`gopher_repetition_flags_rowwise` -- one row per input row,
    no join, no shuffle."""
    return (_counts_stage(df, 'text', words=True, rep=True,
                          keep_cols=keep_cols)
            .select('doc_id', *keep_cols, *_gate_cols(max_top2, max_dup10)))


def _language_exprs():
    """The per-language ``*_hits``, ``cjk_ratio`` and ``pred_lang``
    columns of :func:`language_id` over the counts stage's ``hits`` and
    ``cjk`` fields."""
    h = {lang: F.col('_h_' + lang) for lang in STOPWORDS}
    cjk_ratio = (F.col('_n_cjk').cast('double')
                 / F.greatest(F.col('_n_chars'), F.lit(1)).cast('double'))
    pred = (
        F.when(cjk_ratio > 0.2, 'zh')
        .when((h['en'] >= h['de']) & (h['en'] >= h['fr'])
              & (h['en'] >= h['es']), 'en')
        .when((h['de'] >= h['fr']) & (h['de'] >= h['es']), 'de')
        .when(h['fr'] >= h['es'], 'fr')
        .otherwise('es'))
    return [*[h[lang].cast('long').alias('%s_hits' % lang)
              for lang in STOPWORDS],
            F.round(cjk_ratio, 6).alias('cjk_ratio'),
            pred.alias('pred_lang')]


def language_id(df, text_col='text'):
    """Stopword + CJK-ratio language heuristic over (en, de, fr, es, zh).

    Deterministic tie-break: cjk beats all, then en > de > fr > es in
    fixed priority with >= comparisons.

    The per-language hit counts and the cjk ratio are materialized
    behind a collapse barrier before the ``pred_lang`` CASE chain
    (same reason as :func:`text_profile`: conditional branches defeat
    codegen subexpression elimination, so the inline form re-ran the
    tokenize+distinct+intersect chain once per branch).
    """
    # r06: hit/CJK counts from the Arrow stage (JVM regex ceiling, see
    # _counts_stage); ratio + CASE arithmetic unchanged over the same
    # integers, so the oracle hashes are untouched.
    base = _counts_stage(df, text_col, hits=True, cjk=True)
    return base.select('doc_id', *_language_exprs())


def fingerprints(df, text_col='text'):
    """Document fingerprints: md5 content signature + a sorted-token-set
    signature (whitespace/case-insensitive near-exact dedup key).

    r06: both digests from the Arrow counts stage (hashlib md5 over the
    same UTF-8 bytes; python ``sorted`` and Spark ``sort_array`` agree
    because UTF-8 byte order is code-point order)."""
    c = _counts_stage(df, text_col, sigs=True)
    return c.select(
        'doc_id',
        F.col('_content_sig').alias('content_sig'),
        F.col('_tokenset_sig').alias('tokenset_sig'),
    )


def text_profile(df, text_col='text'):
    """The full per-document analysis profile -- token counts, C4-style
    quality features, language-ID heuristics, fingerprints -- in ONE
    whole-stage-codegen projection.

    Column-for-column identical to joining :func:`token_counts`,
    :func:`quality_scores` (its token count as ``n_tokens_lower``),
    :func:`language_id` and :func:`fingerprints` on doc_id, but with no
    joins: at corpus scale the join form shuffles the corpus three
    times for what is a narrow per-row computation.

    r06 (2nd pass): every count comes from the Arrow counts stage
    (JVM regex ceiling -- see ``_counts_stage``); the ratio / CASE /
    rounding expressions are the ones :func:`quality_scores` and
    :func:`language_id` use (``_quality_score_exprs``,
    ``_language_exprs``), over the same integers, so every double and
    the oracle hashes are bit-identical.  One python stage, no
    shuffle, no join.
    """
    b3 = _counts_stage(df, text_col, raw=True, lower=True, hits=True,
                       cjk=True, alnum=True, sigs=True)
    return b3.select(
        'doc_id',
        F.col('_n_tokens').alias('n_tokens'),
        F.col('_n_distinct').alias('n_distinct_tokens'),
        F.col('_n_chars').alias('n_chars_text'),
        F.col('_n_tokens_lower').alias('n_tokens_lower'),
        *_quality_score_exprs(),
        *_language_exprs(),
        F.col('_content_sig').alias('content_sig'),
        F.col('_tokenset_sig').alias('tokenset_sig'),
    )


# -- deterministic sampling (reproducible corpus splits) --------------------


def _md5_bucket(key_col, digits=4):
    """Lexicographic md5-prefix bucket: stable across engines, runs and
    partitionings (unlike sample(), which is seed- and split-dependent).
    ``digits`` hex chars give 16^digits buckets."""
    return F.substring(F.md5(key_col.cast('string').cast('binary')),
                       1, digits)


def _frac_threshold(frac, digits=4):
    space = 16 ** digits
    n = int(frac * space)
    if n >= space:
        # every hex char sorts below 'g': frac >= 1 keeps all rows
        # (a 5-digit '10000' would compare lexicographically BELOW
        # most 4-char buckets and silently keep ~6%)
        return 'g'
    return format(max(n, 0), '0%dx' % digits)


def deterministic_sample(df, frac, key_col='doc_id'):
    """Keep ~``frac`` of rows, chosen by md5(key) prefix comparison --
    the same documents are selected on every engine, run, cluster size
    and partitioning (sample() is none of these), which is what a
    reproducible held-out split or decontamination subsample needs.
    One narrow filter, no shuffle."""
    return df.where(_md5_bucket(F.col(key_col))
                    < F.lit(_frac_threshold(frac)))


def stratified_sample(df, fracs, strata_col='lang', key_col='doc_id'):
    """Per-stratum deterministic sampling: ``fracs`` maps stratum value
    -> fraction (strata absent from the map are dropped).  The same
    md5-prefix rule per stratum, so rebalancing a multilingual corpus
    (downsample the head language, keep the tail) is reproducible and
    shuffle-free."""
    bucket = _md5_bucket(F.col(key_col))
    cond = None
    for value, frac in sorted(fracs.items()):
        branch = ((F.col(strata_col) == value)
                  & (bucket < F.lit(_frac_threshold(frac))))
        cond = branch if cond is None else (cond | branch)
    return df.where(cond if cond is not None else F.lit(False))


# -- Arrow counts stage (r06: off the JVM regex engine) ---------------------
#
# java.util.regex on the measurement hardware is pathological: a pure-JVM
# microbenchmark (32 threads, shared precompiled Pattern, OPTIMIZATION_r06
# "JVM regex ceiling" section) measured ~28 us per 320-char split AND a
# hard ~26k splits/s PER JVM ceiling that does not move with thread count
# (1 thread = 36k/s, 32 threads = 26k/s TOTAL), while char loops,
# allocation and megamorphic dispatch in the same harness scale 16-20x.
# CPython's re engine does not share the pathology (110k splits/s single
# process, 1.8M/s across 32 worker processes), and Spark python workers
# are processes.  So for split-dominated per-document COUNTING, the
# "eliminate the Python boundary" default (guide section 4) inverts here,
# measured per guide section 1: one Arrow stage that ships only
# (doc_id, text) in and small integers out beats any JVM expression
# formulation by the ceiling ratio.  All ratio / CASE / rounding
# arithmetic stays in the JVM on those integers, bit-identically to the
# old expression trees (the same pattern as synthesize_extract_gold_counts,
# whose python/JVM tokenizer agreement is already test-pinned).

# the python twins of the JVM patterns, compiled once per worker import.
# Java \s is ASCII-only [ \t\n\x0B\f\r]; re.ASCII pins the python
# dialect to the same set
_TOKEN_SPLIT = re.compile(TOKEN_PATTERN).split
_WS_SPLIT = re.compile(r'\s+', re.ASCII).split
_CJK_RE = re.compile('[一-鿿]')
_ALPHA_RE = re.compile('[A-Za-z]')


def py_tokens(text):
    """The non-empty ``TOKEN_PATTERN`` tokens of ``text`` in order -- the
    python twin of :func:`tokens_col` (the one Python compile of the
    pattern; Java and Python regex agree on its ASCII class)."""
    return [x for x in _TOKEN_SPLIT(text) if x]


def py_shingles(toks):
    """Distinct 3-token shingles in first-occurrence order: full
    3-token ' '-joined windows, 1-2 token docs shingle as their joined
    text, and token-less docs get the empty set (never a '' sentinel,
    which would make every pure-markup doc a jaccard-1.0 dup of every
    other)."""
    if len(toks) >= 3:
        it = (' '.join(toks[i:i + 3]) for i in range(len(toks) - 2))
    elif toks:
        it = (' '.join(toks),)
    else:
        return []
    return list(dict.fromkeys(it))


def _top2gram_chars(toks):
    """max over the distinct 2-grams of occurrences x (len a + len b)."""
    counts = Counter(zip(toks, toks[1:]))
    return max((n * (len(a) + len(b)) for (a, b), n in counts.items()),
               default=0)


def _dup10gram_chars(toks, lens):
    """Sum of ``lens`` over the positions covered by a 10-gram that
    occurs more than once, each position counted once."""
    grams = [tuple(toks[i:i + 10]) for i in range(len(toks) - 9)]
    counts = Counter(grams)
    acc = end = 0
    for i, g in enumerate(grams):
        if counts[g] > 1:
            # starts ascend, so only [max(i, end), i + 10) is new
            acc += sum(lens[max(i, end):i + 10])
            end = i + 10
    return acc


def _counts_stage(df, text_col='text', raw=False, lower=False, hits=False,
                  cjk=False, alnum=False, sigs=False, words=False,
                  rep=False, shingles=False, keep_cols=()):
    """(doc_id, <keep_cols>, _n_chars, <requested count cols>) via ONE
    ``map_doc_rows`` stage; exactly one output row per input row, in
    order.

    Null text propagates as null counts (its row holds only the
    pass-through columns), so downstream JVM arithmetic null-propagates
    exactly as the old all-JVM expression trees did.  ``shingles`` adds
    ``_shingles``, the :func:`py_shingles` of the lowered tokens (the
    MinHash shingle table, ``dedup.shingle_df``).
    """
    # hits: True = all STOPWORDS languages, or an iterable subset --
    # the per-row python loop then intersects only what the caller
    # consumes
    hit_langs = (tuple(STOPWORDS) if hits is True
                 else tuple(hits) if hits else ())
    fields = [('_n_chars', pa.int64())]
    if raw:
        fields += [('_n_tokens', pa.int64()), ('_n_distinct', pa.int64())]
    if lower:
        fields += [('_n_tokens_lower', pa.int64())]
    if hit_langs:
        fields += [('_h_' + lang, pa.int64()) for lang in hit_langs]
    if cjk:
        fields += [('_n_cjk', pa.int64())]
    if alnum:
        fields += [('_n_alnum_sp', pa.int64())]
    if sigs:
        fields += [('_content_sig', pa.string()),
                   ('_tokenset_sig', pa.string())]
    if words:
        fields += [('_n_words', pa.int64()), ('_sum_word_len', pa.int64()),
                   ('_n_hash', pa.int64()), ('_ell_lendiff', pa.int64()),
                   ('_alpha_words', pa.int64()), ('_stop_hits', pa.int64())]
    if rep:
        fields += [('_tok_chars', pa.int64()), ('_top2', pa.int64()),
                   ('_dup10', pa.int64())]
    if shingles:
        fields += [('_shingles', pa.list_(pa.string()))]

    # the pass-through columns are a prefix of the input columns
    pass_cols = list(dict.fromkeys(['doc_id', *keep_cols]))
    src = df.select(*dict.fromkeys([*pass_cols, text_col]))
    text_at = src.columns.index(text_col)
    schema = pa.schema(
        [(c, to_arrow_type(src.schema[c].dataType)) for c in pass_cols]
        + fields)
    stop_sets = {lang: frozenset(STOPWORDS[lang]) for lang in hit_langs}
    gopher_stop = frozenset(GOPHER_STOPWORDS)
    alnum_sp_set = frozenset(_ALNUM_SPACE)

    def per_row(*values):
        row = dict(zip(pass_cols, values))
        t = values[text_at]
        if t is None:
            return (row,)
        row['_n_chars'] = len(t)
        if raw:
            toks = py_tokens(t)
            row['_n_tokens'] = len(toks)
            row['_n_distinct'] = len(set(toks))
        if lower or hit_langs or sigs or rep or shingles:
            toksl = py_tokens(t.lower())
        if hit_langs or sigs:
            dt = set(toksl)
        if lower:
            row['_n_tokens_lower'] = len(toksl)
        for lang in hit_langs:
            row['_h_' + lang] = len(dt & stop_sets[lang])
        if cjk:
            row['_n_cjk'] = len(_CJK_RE.findall(t))
        if alnum:
            row['_n_alnum_sp'] = sum(1 for ch in t if ch in alnum_sp_set)
        if sigs:
            row['_content_sig'] = hashlib.md5(t.encode('utf-8')).hexdigest()
            row['_tokenset_sig'] = hashlib.md5(
                ' '.join(sorted(dt)).encode('utf-8')).hexdigest()
        if words:
            ws = [w for w in _WS_SPLIT(t.strip(' ')) if w]
            row['_n_words'] = len(ws)
            row['_sum_word_len'] = sum(map(len, ws))
            row['_n_hash'] = t.count('#')
            row['_ell_lendiff'] = 3 * t.count('...')
            row['_alpha_words'] = sum(1 for w in ws if _ALPHA_RE.search(w))
            row['_stop_hits'] = len({w.lower() for w in ws} & gopher_stop)
        if rep:
            lens = [len(x) for x in toksl]
            row['_tok_chars'] = sum(lens)
            row['_top2'] = _top2gram_chars(toksl)
            row['_dup10'] = _dup10gram_chars(toksl, lens)
        if shingles:
            row['_shingles'] = py_shingles(toksl)
        return (row,)

    return map_doc_rows(src, per_row, schema)

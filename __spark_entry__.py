"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fused extraction on sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline extras (39 entries);
``oracle_sql()`` provides DuckDB-equivalent SQL for every
SQL-expressible one (23 hash-checked as of r02 -- incl. the
sequence/window/smoothing feature-math demos, the stateful streaming
dedup batch view, checkpoint resume, and the CleanEval reader; the rest
-- blockify / LCS labeling / extraction / ANN internals / partition
observability -- get the weaker rows-only check by design).

Column-name + value parity rules observed throughout: every computed
column aliased identically on both sides; float outputs are per-row
int/int divisions or exact-decimal sums cast to double (never
order-dependent double accumulation); regexes restricted to dialect-safe
classes.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402


def _read_spread(spark, path):
    # r06: single-row-group bench inputs serialize every downstream
    # narrow stage onto one task; spread them once, leave well-split
    # inputs untouched (plans/partitioning.spread_small_scan)
    from dragnet_spark.plans.partitioning import spread_small_scan
    return spread_small_scan(spark, spark.read.parquet(path), path)


def _docs(spark, sf_dir, spread=True):
    # spread=False for consumers whose pre-shuffle work is trivial
    # (md5-only aggregation, hash-bucket filters): there the guard's
    # shuffle is pure cost (spread_small_scan docstring)
    path = f'{sf_dir}/documents.parquet'
    if not spread:
        return spark.read.parquet(path)
    return _read_spread(spark, path)


def _emb(spark, sf_dir):
    return _read_spread(spark, f'{sf_dir}/embeddings.parquet')


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: fused span-document content extraction (SURVEY §3.1)."""
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, _ = synthesize_corpus(spark, '/root/testdata/sf0.001')
    return extract(spans_df)


# ---------------------------------------------------------------------------
# queries: extraction pipeline (rows-only -- non-SQL-expressible)
# ---------------------------------------------------------------------------

def _with_edge_docs(spark, fused, edge_stage):
    """A fused single-stage query plus its edge-doc branch: the fixed
    edge-case docs run through ``edge_stage(spans, gold)``, the regular
    operator, so the union matches the
    ``synthesize_corpus(include_edge_docs=True)`` pipeline."""
    from dragnet_spark.sources.synthesis import edge_docs_dfs
    return fused.unionByName(edge_stage(*edge_docs_dfs(spark)))


def _extracted(spark, sf_dir):
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.sources.synthesis import synthesize_and_extract
    return _with_edge_docs(spark, synthesize_and_extract(spark, sf_dir),
                           lambda spans, _: extract(spans))


def _blocks(spark, sf_dir):
    from dragnet_spark.operators.blocks_df import (blockify_df,
                                                   synthesize_and_blockify)
    return _with_edge_docs(spark, synthesize_and_blockify(spark, sf_dir),
                           lambda spans, _: blockify_df(spans))


def q_extract_content(spark, sf_dir):
    """M3-M6: fused blockify+featurize+predict+assemble.

    r06: single-stage ``synthesize_and_extract`` (spans never cross the
    Arrow boundary) + the tiny edge-doc branch through the regular
    ``extract`` path; identical rows to the r05 two-stage form."""
    return _extracted(spark, sf_dir).select('doc_id', 'content_text',
                                            'status')


def q_extract_spans(spark, sf_dir):
    """M5 span reassembly: exploded output spans incl. media passthrough.

    r06: same single-stage fusion as ``q_extract_content``."""
    return _extracted(spark, sf_dir).select(
        'doc_id', F.explode('spans').alias('s')
    ).select('doc_id', F.col('s.offset').alias('offset'),
             F.col('s.kind').alias('kind'),
             F.col('s.media_ref').alias('media_ref'),
             F.col('s.text').alias('text'))


def q_blockify_blocks(spark, sf_dir):
    """P1-P12: blocks as a DataFrame with densities + tagcount features.

    r06: single-stage synthesis+blockify fusion (guide §4.1) + the tiny
    edge-doc branch through the regular ``blockify_df`` path."""
    return _blocks(spark, sf_dir).select(
        'doc_id', 'block_idx', 'text', 'link_density', 'text_density',
        'tagcount', 'tagcount_since_last_block', 'anchor_count',
        'min_depth_since_last_block', 'block_start_tag', 'pred')


def q_block_features(spark, sf_dir):
    """F1-F4+F7: the 9-column feature union per block, posexploded to
    scalar (feature_idx, value) rows so the harness canonicalizer can
    sort/hash them (arrays are unhashable driver-side)."""
    return _blocks(spark, sf_dir).select(
        'doc_id', 'block_idx',
        F.posexplode('features').alias('feature_idx', 'value')
    ).select('doc_id', F.col('block_idx').cast('long').alias('block_idx'),
             F.col('feature_idx').cast('long').alias('feature_idx'),
             F.round('value', 6).alias('value'))


def q_gold_block_labeling(spark, sf_dir):
    """G1-G5: LCS gold-standard block labeling.

    r06: single-stage synthesis+blockify+LCS fusion -- no second gold
    synthesis pass, no doc_id shuffle join of opaque python outputs
    (guide §4.1/§2.4); edge docs keep the regular two-input path."""
    from dragnet_spark.operators.labeling import (gold_blocks,
                                                  synthesize_and_label)
    return _with_edge_docs(
        spark, synthesize_and_label(spark, sf_dir), gold_blocks).select(
        'doc_id', 'block_idx', 'content_frac', 'comments_frac',
        'label_content', 'label_comments', 'weight')


def q_token_f1_extraction(spark, sf_dir):
    """E2 on the real pipeline: corpus-level token metrics of the shipped
    model vs synthetic gold.

    r06: ``synthesize_extract_gold_counts`` emits the per-doc token
    COUNTS from ONE python stage -- the r05 form paid a second full
    synthesis pass for the gold table, a doc_id shuffle join of two
    opaque python outputs, and a ~4.3 s JVM re-tokenize of both texts
    (guide §4.1); the ratio arithmetic stays in the JVM
    (``token_f1_from_counts``, bit-identical on exact int counts), and
    the edge docs keep the regular extract-join-gold SQL path."""
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.operators.metrics import (token_f1_from_counts,
                                                 token_f1_per_doc)
    from dragnet_spark.sources.synthesis import (
        synthesize_extract_gold_counts)

    def edge(spans, gold):
        return token_f1_per_doc(
            extract(spans).select('doc_id', 'content_text')
            .join(gold.select(
                'doc_id',
                F.col('content_text').alias('content_text_gold')),
                'doc_id'))

    per_doc = _with_edge_docs(
        spark, token_f1_from_counts(
            synthesize_extract_gold_counts(spark, sf_dir)), edge)
    res = per_doc.agg(
        F.avg('precision').alias('precision'),
        F.avg('recall').alias('recall'),
        F.avg('f1').alias('f1'),
        F.count('*').alias('n_docs'))
    return res.select(F.round('precision', 4).alias('precision'),
                      F.round('recall', 4).alias('recall'),
                      F.round('f1', 4).alias('f1'), 'n_docs')


def q_minhash_near_duplicates(spark, sf_dir):
    from dragnet_spark.operators.dedup import minhash_near_duplicates
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.8)


def q_simhash_near_duplicates(spark, sf_dir):
    from dragnet_spark.operators.dedup import simhash_near_duplicates
    return simhash_near_duplicates(_docs(spark, sf_dir))


def q_embedding_near_duplicates(spark, sf_dir):
    # the synthetic embeddings are isotropic (max pairwise cosine ~0.51,
    # no actual near-dups), so the operator runs on the derived
    # planted-duplicate table at the production threshold regime --
    # mining cosine-0.4 'pairs' out of noise was the r01 demo and forced
    # recall-destroying 4-bit bands (VERDICT r01)
    from dragnet_spark.operators.similarity import (
        embedding_near_duplicates, with_planted_duplicates)
    planted = with_planted_duplicates(_emb(spark, sf_dir))
    return embedding_near_duplicates(planted, threshold=0.9)


def q_embedding_near_duplicates_multiprobe(spark, sf_dir):
    """The 10^9-doc regime configuration: 24-bit band keys (random-pair
    collisions down 256x vs 16-bit) with 2-probe multi-probe recovering
    the recall the wider keys would otherwise lose (VERDICT r02 #7;
    recall >= 0.99 asserted in tests/test_pipeline_ops.py)."""
    from dragnet_spark.operators.similarity import (
        embedding_near_duplicates, with_planted_duplicates)
    planted = with_planted_duplicates(_emb(spark, sf_dir))
    return embedding_near_duplicates(planted, threshold=0.9, bits=24,
                                     probes=2)


def q_ann_topk_quantized(spark, sf_dir):
    """SQ8 quantized-scan + exact re-rank ANN (replaces r01's 4-bit
    hyperplane LSH, which OR-matched ~64% of the corpus per query)."""
    from dragnet_spark.operators.similarity import quantized_topk
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col('vec_id') < 10)
    return quantized_topk(emb, queries, k=5)


def q_ann_topk_ivf(spark, sf_dir):
    """IVF coarse-quantization ANN (the sub-linear path) on the derived
    planted-cluster table -- the isotropic synthetic embeddings carry no
    cluster structure for cells to exploit (see quantized_topk for that
    regime).  Recall 0.97 at ~19x cell pruning measured in bench."""
    from dragnet_spark.operators.similarity import (ivf_topk,
                                                    with_planted_clusters)
    emb = _emb(spark, sf_dir)
    clustered = with_planted_clusters(emb)
    queries = clustered.where(F.col('vec_id') < 10)
    return ivf_topk(clustered, queries, k=5)


def q_ann_topk_ivf_quantized(spark, sf_dir):
    """The composed 10^12-doc ANN design: IVF cells (sub-linear -- only
    n_probe/n_cells of the corpus touched per query) with the SQ8 int8
    scan as the in-cell inner loop and exact re-rank of the top 10% of
    in-cell candidates.  Recall 0.96 at ~33x exact-work pruning on the
    planted-cluster table (bench)."""
    from dragnet_spark.operators.similarity import (ivf_quantized_topk,
                                                    with_planted_clusters)
    emb = _emb(spark, sf_dir)
    clustered = with_planted_clusters(emb)
    queries = clustered.where(F.col('vec_id') < 10)
    return ivf_quantized_topk(clustered, queries, k=5)


def q_media_feature_extract(spark, sf_dir):
    """Multimodal plumbing: binary payload -> feature vector (deterministic
    byte-histogram stand-in codec), posexploded to scalar rows.  The
    stand-in folds bytes mod 16 so DuckDB can reproduce it from the hex
    low nibble of the payload -- a real hash check of the Arrow stage."""
    from dragnet_spark.operators.multimodal import (
        extract_media_features, media_table)
    media = media_table(_docs(spark, sf_dir)).where(
        F.octet_length('payload') > 0)
    feats = extract_media_features(media)
    return feats.select(
        'media_ref', F.posexplode('features').alias('feature_idx', 'value')
    ).select('media_ref',
             F.col('feature_idx').cast('long').alias('feature_idx'),
             F.col('value').alias('value'))


# ---------------------------------------------------------------------------
# queries with DuckDB oracles
# ---------------------------------------------------------------------------

def q_token_count(spark, sf_dir):
    from dragnet_spark.operators.text_analysis import token_counts
    return token_counts(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from dragnet_spark.operators.text_analysis import quality_scores
    return quality_scores(_docs(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    """The dedup decision table, hash-checked end to end: documents
    (bounded to doc_id < 1000 -- the capped-quadratic oracle regime of
    jaccard_pairs) plus planted exact copies (doc_id + 10^6, same
    text), exact token-Jaccard >= 0.9 pairs as edges, DataFrame-only
    connected components (min-label propagation + pointer jumping), one
    row per doc with (cluster_id, is_canonical) -- WHERE is_canonical
    = 1 is the deduplicated corpus.

    The edge list is the EXACT pair set (not MinHash) so DuckDB can
    re-derive it and then iterate the same min-label fixpoint in a
    recursive CTE: LSH recall on near-threshold pairs is < 1 by design
    (banding), so a MinHash-fed edge list is not oracle-reproducible --
    measured at sf0.01: 600 LSH pairs vs 36 580 exact pairs at 0.9 on
    this highly templated synthetic corpus.  The production MinHash ->
    components composition (duplicate_cluster_assignments) is exercised
    by training_corpus_funnel and pinned structurally in
    tests/test_pipeline_ops.py; the distributed fixpoint itself is
    identical code either way (cluster_assignments_from_pairs)."""
    from dragnet_spark.operators.dedup import (
        cluster_assignments_from_pairs, jaccard_pairs)
    docs = (_docs(spark, sf_dir).select('doc_id', 'text')
            .where(F.col('doc_id') < 1000))
    planted = docs.unionByName(
        docs.select((F.col('doc_id') + F.lit(1_000_000)).alias('doc_id'),
                    'text'))
    pairs = jaccard_pairs(planted, threshold=0.9)
    return (cluster_assignments_from_pairs(planted, pairs)
            .orderBy('doc_id'))


def q_duplicated_passages(spark, sf_dir):
    """Passage-level exact dedup (Lee et al. 2022 bounded to 20-token
    n-grams): every passage in >= 2 distinct docs with document
    frequency and occurrence counts, over documents plus planted
    copies.  One codegen projection -> explode -> hash-groupBy; fully
    SQL-expressible, hash-checked.

    r06: a planted copy shares its source's text, so its passage rows
    are derived by FANNING OUT doc_ids after the signature projection
    (one scan + one tokenize+md5 pass) instead of union-ing a second
    scan that re-tokenizes and re-hashes the planted quarter of the
    corpus; identical (sig, doc_id) multiset by construction."""
    from dragnet_spark.operators.dedup import (duplicated_passage_stats,
                                               passage_sig_rows)
    docs = _docs(spark, sf_dir).select('doc_id', 'text')
    rows = passage_sig_rows(docs)
    fan = rows.select(
        F.explode(
            F.when(F.col('_id') % 4 == 0,
                   F.array(F.col('_id'), F.col('_id') + F.lit(1_000_000)))
            .otherwise(F.array(F.col('_id')))).alias('_id'),
        '_sig')
    return (duplicated_passage_stats(fan)
            .select('passage_sig', 'n_docs', 'n_occurrences',
                    'first_doc_id'))


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule pre-training quality gate (Rae et al. 2021 A1.1):
    word-count / mean-word-length / symbol-ratio / alpha-word /
    stop-word rules as one whole-stage-codegen projection, pass flag
    included.  Every ratio is an int/int division so the DuckDB oracle
    is hash-exact."""
    from dragnet_spark.operators.text_analysis import gopher_quality_flags
    return gopher_quality_flags(_docs(spark, sf_dir))


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition gate: top-2-gram (occurrence-weighted) and
    duplicated-10-gram (POSITIONAL coverage -- each token position
    counts once; see the operator docstring) character fractions per
    document, defined identically in the oracle, with the pass flag.

    r06: runs the zero-shuffle rowwise form -- ~9x faster at sf1.0 than
    the retired shuffle form since its coverage step went O(n log n);
    the shuffle form's plan re-computed the scan+tokenize base five
    times across its four shuffles."""
    from dragnet_spark.operators.text_analysis import (
        gopher_repetition_flags_rowwise)
    return gopher_repetition_flags_rowwise(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    from dragnet_spark.operators.text_analysis import language_id
    return language_id(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    from dragnet_spark.operators.text_analysis import fingerprints
    return fingerprints(_docs(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    from dragnet_spark.operators.dedup import exact_duplicates
    # md5-only aggregation: the spread guard's shuffle is pure cost here
    return exact_duplicates(_docs(spark, sf_dir, spread=False))


def q_jaccard_pairs(spark, sf_dir):
    # exact quadratic form, capped at 1000 docs -- the oracle-checkable
    # reference for the LSH scale path (minhash_near_duplicates)
    from dragnet_spark.operators.dedup import jaccard_pairs
    docs = _docs(spark, sf_dir).where(F.col('doc_id') < 1000)
    return jaccard_pairs(docs, threshold=0.8)


def q_ann_topk_bruteforce(spark, sf_dir):
    from dragnet_spark.operators.similarity import cosine_topk
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col('vec_id') < 10)
    return cosine_topk(emb, queries, k=5)


def q_block_label_threshold(spark, sf_dir):
    """G5 label materialization semantics (frac > 0.1, weight cap 200)
    demonstrated over the documents table."""
    docs = _docs(spark, sf_dir)
    from dragnet_spark.operators.text_analysis import tokens_col
    frac = (F.pmod(F.col('n_chars'), F.lit(97)).cast('double')
            / F.lit(96.0))
    n_tokens = F.size(tokens_col(F.col('text')))
    return docs.select(
        'doc_id',
        F.round(frac, 6).alias('frac'),
        (frac > 0.1).cast('long').alias('label'),
        F.least(n_tokens, F.lit(200)).cast('long').alias('weight'))


def q_block_metrics_weighted(spark, sf_dir):
    """E1 weighted block metrics aggregate over a deterministic labeling."""
    from dragnet_spark.operators.text_analysis import tokens_col
    docs = _docs(spark, sf_dir)
    n_tokens = F.size(tokens_col(F.col('text')))
    labeled = docs.select(
        (F.col('n_chars') > 280).cast('int').alias('label'),
        (n_tokens > 45).cast('int').alias('pred'),
        F.least(n_tokens, F.lit(200)).alias('weight'))
    from dragnet_spark.operators.metrics import block_level_metrics
    m = block_level_metrics(labeled)
    return m.select(*[F.round(c, 6).alias(c)
                      for c in ('accuracy', 'precision', 'recall', 'f1')])


def q_token_f1_demo(spark, sf_dir):
    """E2 token metrics per doc: predicted = all distinct tokens,
    actual = distinct tokens longer than 3 chars."""
    from dragnet_spark.operators.text_analysis import tokens_col
    docs = _docs(spark, sf_dir)
    p = F.array_distinct(tokens_col(F.col('text'), lower=True))
    a = F.filter(p, lambda t: F.length(t) > 3)
    tp = F.size(F.array_intersect(p, a)).cast('double')
    precision = F.when(F.size(p) > 0, tp / F.size(p)).otherwise(0.0)
    recall = F.when(F.size(a) > 0, tp / F.size(a)).otherwise(0.0)
    f1 = F.when((precision + recall) > 0,
                2 * precision * recall / (precision + recall)).otherwise(0.0)
    return docs.select('doc_id', F.round(precision, 6).alias('precision'),
                       F.round(recall, 6).alias('recall'),
                       F.round(f1, 6).alias('f1'))


def q_gold_corrected_roundtrip(spark, sf_dir):
    """S2 gold-standard reader: parse the reference corrected-text format
    (content, '!@#$%^&*()  COMMENTS' delimiter, comments) built
    deterministically from documents."""
    from dragnet_spark.sources.gold_io import parse_corrected
    docs = _docs(spark, sf_dir)
    corrected = docs.select(
        F.col('doc_id').cast('string').alias('doc_id'),
        F.concat(F.col('text'), F.lit('\n!@#$%^&*()  COMMENTS\n'),
                 F.upper(F.substring('text', 1, 50)))
        .alias('corrected_text'))
    return parse_corrected(corrected)


def q_cleaneval_gold(spark, sf_dir):
    """S2 CleanEval mode (read_gold_standard_file(cetr=True)): gold is
    raw HTML whose full text content becomes the content column.  The
    built markup is simple enough (no entities, no malformed tags) that
    DuckDB reproduces the parser's text-join with tag-stripping +
    whitespace squeezing -- a hash check of the cetr reader."""
    from dragnet_spark.sources.gold_io import parse_corrected_cleaneval
    docs = _docs(spark, sf_dir)
    built = docs.select(
        F.col('doc_id').cast('string').alias('doc_id'),
        F.concat(F.lit('<html><body><h1>'), F.substring('text', 1, 40),
                 F.lit('</h1><p>'), F.substring('text', 41, 1_000_000),
                 F.lit('</p><div>closing words</div></body></html>'))
        .alias('corrected_text'))
    return parse_corrected_cleaneval(built)


def q_clustered_weninger(spark, sf_dir):
    """F3: KMeans-clustered CETR feature over the blocks DataFrame
    (stateful fit; rows-only check)."""
    from dragnet_spark.operators.blocks_df import blockify_df
    from dragnet_spark.operators.extra_features import ClusteredWeninger
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    blocks = blockify_df(spans_df).where(F.size('features') > 0)
    cw = ClusteredWeninger().fit(blocks)
    return cw.transform(blocks).select('doc_id', 'block_idx',
                                       'clustered_weninger')


def q_standardized_features(spark, sf_dir):
    """F6: globally standardized feature vectors (rows-only check)."""
    from dragnet_spark.operators.blocks_df import blockify_df
    from dragnet_spark.operators.extra_features import (
        fit_standardizer, standardize)
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    blocks = blockify_df(spans_df).where(F.size('features') > 0).cache()
    mean, std = fit_standardizer(blocks)
    return standardize(blocks, mean, std).select(
        'doc_id', 'block_idx',
        F.posexplode('features_std').alias('feature_idx', 'value')
    ).select('doc_id', F.col('block_idx').cast('long').alias('block_idx'),
             F.col('feature_idx').cast('long').alias('feature_idx'),
             F.round('value', 6).alias('value'))


def q_media_stats(spark, sf_dir):
    from dragnet_spark.operators.multimodal import media_stats, media_table
    return media_stats(media_table(_docs(spark, sf_dir)))


def q_pdf_layout_blocks(spark, sf_dir):
    """PDF/layout parse (north rule): deterministic PDF payloads rendered
    from the documents table, parsed back into ordered layout blocks
    (from-scratch PDF 1.4 subset: FlateDecode + text operators + layout
    grouping -- kernels/pdf.py).  Block positions/kinds are not
    SQL-derivable -> rows-only; the content round-trip is hash-checked
    by pdf_extract_content."""
    from dragnet_spark.operators.pdf_extract import (pdf_corpus,
                                                     pdf_layout_blocks)
    return (pdf_layout_blocks(pdf_corpus(spark, sf_dir))
            .select('doc_id', F.col('page').cast('long').alias('page'),
                    F.col('block_idx').cast('long').alias('block_idx'),
                    'kind', F.round('size', 1).alias('size'),
                    F.round('y_top', 1).alias('y_top'), 'text'))


def q_pdf_extract_content(spark, sf_dir):
    """De-chromed PDF content: write -> Flate -> parse -> layout ->
    furniture strip must reproduce the whitespace-normalized source text
    byte-for-byte (hash-checked against a pure-SQL oracle).

    r06: render+parse fused into one python stage (the compressed
    payloads never cross the Arrow boundary); same `_content_row`
    kernel as the two-stage form, so rows are identical by
    construction."""
    from dragnet_spark.operators.pdf_extract import (
        synthesize_and_extract_pdf)
    return (synthesize_and_extract_pdf(spark, sf_dir)
            .select('doc_id', 'title', 'content_text'))


def q_pricing_summary(spark, sf_dir):
    """Relational-engine sanity (Catalyst-free aggregation): TPC-H Q1-style
    pricing summary with exact decimal sums cast to double."""
    li = spark.read.parquet(f'{sf_dir}/lineitem.parquet')
    d = lambda c: F.col(c).cast('decimal(18,2)')  # noqa: E731
    return (li.groupBy('l_returnflag', 'l_linestatus').agg(
        F.count('*').alias('count_order'),
        F.sum(d('l_quantity')).cast('double').alias('sum_qty'),
        F.sum(d('l_extendedprice')).cast('double').alias('sum_base_price'),
        F.sum(d('l_extendedprice') * (F.lit(1).cast('decimal(18,2)')
                                      - d('l_discount')))
        .cast('double').alias('sum_disc_price')))


def q_events_sessionize(spark, sf_dir):
    """Window-function sanity: 30-min-gap sessionization per user."""
    from pyspark.sql import Window
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    w = Window.partitionBy('user_id').orderBy('ts', 'event_id')
    # microsecond-exact gap comparison: events.parquet stores timestamp[us]
    # (TIMESTAMP_NTZ), and unix_timestamp() truncates to whole seconds,
    # which splits sessions differently from the oracle's fractional
    # epoch_us() near the 1800s boundary
    lagged = ev.withColumn('prev_ts', F.lag(F.col('ts')).over(w))
    new_sess = F.when(
        F.col('prev_ts').isNull()
        | (F.expr('timestampdiff(MICROSECOND, prev_ts, ts)') > 1_800_000_000),
        1).otherwise(0)
    per_event = lagged.select('user_id', new_sess.alias('ns'))
    return per_event.groupBy('user_id').agg(
        F.count('*').alias('n_events'),
        F.sum('ns').alias('n_sessions'))


# ---------------------------------------------------------------------------
# SQL-expressible feature-math demos (hash-checked counterparts of F1/F2/F5/F6)
#
# The real feature transforms run on blockifier output (not reproducible in
# DuckDB); these demos run the *same sequence/window/smoothing math* over a
# deterministic SQL-derivable block table (8-token slices of each document's
# token stream), so the Spark-side formulation gets a value-level hash check.
# The kernel math itself is pinned by the reference golden vectors in pytest.
# ---------------------------------------------------------------------------

_DEMO_BLOCK_TOKENS = 8

# gaussian kernel, sigma=1.0, truncate=4.0 (radius 4) -- identical literal
# strings on both dialects parse to identical doubles (shortest-roundtrip
# reprs of kernels.features.weninger._gaussian_kernel1d(1.0, 4))
_GW = ('0.00013383062461474175', '0.004431861620031266',
       '0.053991127420704395', '0.24197144565660073',
       '0.39894346935609776', '0.24197144565660073',
       '0.053991127420704395', '0.004431861620031266',
       '0.00013383062461474175')


def _elem(dialect, arr, idx):
    fn = 'element_at' if dialect == 'spark' else 'list_extract'
    return '%s(%s, %s)' % (fn, arr, idx)


def _xform(dialect, var, body):
    if dialect == 'spark':
        return 'transform(sequence(0, n - 1), %s -> %s)' % (var, body)
    return 'list_transform(range(n), %s -> %s)' % (var, body)


def _dx_expr(dialect):
    """CETR derivative per kernels.features.weninger.sx_sdx: dx[k] =
    |mean(x[k+1 : min(k+1+3, n)]) - x[k]|, last element 2-point mean.
    Explicit 3-term guarded sum so both engines add in the same order."""
    e = lambda i: _elem(dialect, 'xs', i)  # noqa: E731
    cnt = 'least(3, n - 1 - k)'
    s = ("(%s + (CASE WHEN %s >= 2 THEN %s ELSE CAST(0 AS DOUBLE) END)"
         " + (CASE WHEN %s >= 3 THEN %s ELSE CAST(0 AS DOUBLE) END))"
         % (e('k + 2'), cnt, e('k + 3'), cnt, e('k + 4')))
    body = ("CASE WHEN k < n - 1 THEN abs(%s / %s - %s) "
            "ELSE abs(CAST('0.5' AS DOUBLE) * (%s + %s) - %s) END"
            % (s, cnt, e('k + 1'), e('n'), e('n - 1'), e('n')))
    return _xform(dialect, 'k', body)


def _smooth_expr(arr, dialect):
    """Gaussian filter (reflect boundary, radius 4) as an explicit 9-term
    convolution -- valid for n >= 4 (single reflection)."""
    terms = []
    for o in range(-4, 5):
        j = '(i + %d)' % o if o >= 0 else '(i - %d)' % -o
        r = ('(CASE WHEN %s < 0 THEN -%s - 1 '
             'WHEN %s >= n THEN 2 * n - %s - 1 ELSE %s END)'
             % (j, j, j, j, j))
        terms.append("%s * CAST('%s' AS DOUBLE)"
                     % (_elem(dialect, arr, r + ' + 1'), _GW[o + 4]))
    return _xform(dialect, 'i', ' + '.join(terms))


def _demo_blocks(spark, sf_dir):
    """(doc_id, block_idx, nt, nd, nc): 8-token slices of the document
    token stream with per-block token / distinct-token / char counts."""
    from dragnet_spark.operators.text_analysis import tokens_col
    docs = _docs(spark, sf_dir)
    t = (docs.select('doc_id',
                     tokens_col(F.col('text'), lower=True).alias('toks'))
         .where(F.size('toks') > 0))
    nb = F.ceil(F.size('toks') / F.lit(8.0)).cast('int')
    sliced = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.slice('toks', i * _DEMO_BLOCK_TOKENS + 1,
                          _DEMO_BLOCK_TOKENS))
    b = t.select('doc_id',
                 F.posexplode(sliced).alias('block_idx', 'barr'))
    return b.select(
        'doc_id', F.col('block_idx').cast('long').alias('block_idx'),
        F.size('barr').alias('nt'),
        F.size(F.array_distinct('barr')).alias('nd'),
        F.length(F.array_join('barr', ' ')).alias('nc'))


_DEMO_BLOCKS_SQL = """
  t AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents),
  tt AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
  bi AS (SELECT doc_id, toks,
                unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT)))
                  AS block_idx
         FROM tt),
  b AS (SELECT doc_id, block_idx,
               list_slice(toks, block_idx * 8 + 1, block_idx * 8 + 8) AS barr
        FROM bi),
  m AS (SELECT doc_id, block_idx, len(barr) AS nt,
               len(list_distinct(barr)) AS nd,
               length(array_to_string(barr, ' ')) AS nc
        FROM b)
"""


def q_kohlschuetter_window(spark, sf_dir):
    """F1 structure as pure Spark SQL (SURVEY §2.3): (prev, cur, next) x
    (link_density, text_density) via lag/lead over block order,
    zero-padded at document ends."""
    from pyspark.sql import Window
    m = _demo_blocks(spark, sf_dir)
    d = m.select('doc_id', 'block_idx',
                 (F.col('nd').cast('double') / F.col('nt')).alias('ld'),
                 (F.col('nc').cast('double') / F.col('nt')).alias('td'))
    w = Window.partitionBy('doc_id').orderBy('block_idx')
    return d.select(
        'doc_id', 'block_idx',
        F.lag('ld', 1, 0.0).over(w).alias('prev_ld'),
        F.lag('td', 1, 0.0).over(w).alias('prev_td'),
        'ld', 'td',
        F.lead('ld', 1, 0.0).over(w).alias('next_ld'),
        F.lead('td', 1, 0.0).over(w).alias('next_td'))


def q_weninger_smooth(spark, sf_dir):
    """F2 structure: CETR ratio -> alpha=3 derivative -> gaussian smoothing
    (sigma=1, reflect) as per-document array expressions; docs with >= 4
    blocks (single-reflection domain)."""
    m = _demo_blocks(spark, sf_dir)
    d = m.select('doc_id', 'block_idx',
                 (F.col('nc').cast('double')
                  / ((F.col('nt') % 7) + 1)).alias('ctr'))
    g = (d.groupBy('doc_id')
         .agg(F.array_sort(F.collect_list(F.struct('block_idx', 'ctr')))
              .alias('s'))
         .select('doc_id', F.expr('transform(s, e -> e.ctr)').alias('xs'))
         .where(F.size('xs') >= 4)
         .withColumn('n', F.size('xs'))
         .withColumn('dxs', F.expr(_dx_expr('spark')))
         .withColumn('sxl', F.expr(_smooth_expr('xs', 'spark')))
         .withColumn('sdxl', F.expr(_smooth_expr('dxs', 'spark'))))
    z = g.select('doc_id', F.posexplode(F.arrays_zip('sxl', 'sdxl'))
                 .alias('block_idx', 'z'))
    return z.select('doc_id',
                    F.col('block_idx').cast('long').alias('block_idx'),
                    F.col('z.sxl').alias('sx'), F.col('z.sdxl').alias('sdx'))


def q_standardize_zscore(spark, sf_dir):
    """F6 structure: global z-score with exact integer sums (sum / sum-of-
    squares as bigints, so mean/var are order-independent)."""
    from dragnet_spark.operators.text_analysis import tokens_col
    docs = _docs(spark, sf_dir)
    d = docs.select('doc_id',
                    F.size(tokens_col(F.col('text'))).cast('long').alias('x'))
    stats = d.agg(F.sum('x').alias('s1'),
                  F.sum(F.col('x') * F.col('x')).alias('s2'),
                  F.count('*').alias('cnt'))
    j = d.crossJoin(F.broadcast(stats))
    mean = F.col('s1').cast('double') / F.col('cnt')
    var = F.col('s2').cast('double') / F.col('cnt') - mean * mean
    z = (F.col('x') - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return j.select('doc_id', F.col('x').alias('n_tokens'), z.alias('z'))


def q_css_token_flags(spark, sf_dir):
    """F5 structure: the 36 css id/class token presence flags (incl. the
    reference's duplicated 'ss') as substring tests over the text."""
    from dragnet_spark.kernels.features.css import ATTRIBUTE_TOKENS
    toks36 = [t for _, toks in ATTRIBUTE_TOKENS for t in toks]
    docs = _docs(spark, sf_dir)
    flags = F.array(*[
        F.when(F.instr(F.lower(F.col('text')), tok) > 0, 1)
        .otherwise(0).cast('long') for tok in toks36])
    return (docs.select('doc_id',
                        F.posexplode(flags).alias('feature_idx', 'flag'))
            .select('doc_id',
                    F.col('feature_idx').cast('long').alias('feature_idx'),
                    'flag'))


def q_streaming_dedup_batch(spark, sf_dir):
    """Stateful streaming dedup (applyInPandasWithState) as a batch view:
    stream the documents through the operator with availableNow, then
    aggregate per host -- counts are arrival-order-insensitive, so the
    result is deterministic and oracle-checkable."""
    import tempfile
    from dragnet_spark.streaming.dedup_stream import run_dedup_stream
    base = tempfile.mkdtemp(prefix='dedup_stream_q_')
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit('host'), (F.col('doc_id') % 13).cast('string'),
                 F.lit('/doc-'), F.col('doc_id').cast('string'))
        .alias('doc_id'),
        F.col('text').alias('content_text'))
    docs.coalesce(4).write.mode('overwrite').parquet(f'{base}/src')
    run_dedup_stream(spark, f'{base}/src', f'{base}/out', f'{base}/chk')
    res = spark.read.parquet(f'{base}/out')
    return res.groupBy('host').agg(
        F.count('*').alias('n_docs'),
        F.sum(F.col('is_first_seen').cast('long')).alias('n_first_seen'))


def q_template_mining(spark, sf_dir):
    """Template-family mining over the phase-3 hard corpus: four chrome
    templates (two non-English) assigned per HOST, so families cross
    hosts; boilerplate = raw tokens minus extracted content+comments,
    shingle-MinHash + connected components labels the families.
    Rows-only (extraction in the loop); family structure is pinned by
    tests/test_templates.py."""
    from dragnet_spark.operators.templates import template_families
    from dragnet_spark.sources.synthesis import synthesize_hard_corpus
    spans_df, _ = synthesize_hard_corpus(spark, sf_dir)
    return (template_families(spans_df)
            .select('family_id', 'n_docs', 'n_hosts')
            .orderBy(F.desc('n_docs')))


def q_feature_importances(spark, sf_dir):
    """E5 companion (reference paper Table 2 style), both default
    backends: standardized-coefficient importances of the shipped LR
    (stds measured on the labeled gold blocks, JVM-side aggregation)
    and impurity importances of a fitted RandomForest -- the Spark ML
    analogue of the reference's default ExtraTreesClassifier
    (/root/reference/dragnet/extractor.py:48).  Rows-only:
    training/labeling is not SQL-expressible."""
    from dragnet_spark.extractor import Extractor
    from dragnet_spark.operators.labeling import gold_blocks
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, gold_df = synthesize_corpus(spark, sf_dir,
                                          include_edge_docs=False)
    labeled = gold_blocks(spans_df, gold_df).cache()
    rows = []
    for backend, ex in (('lr', Extractor()),
                        ('rf', Extractor(classifier='rf')
                         .fit_blocks(labeled))):
        imps = ex.feature_importances(labeled if backend == 'lr' else None)
        rows += [(backend, i, n, round(v, 6))
                 for i, (n, v) in enumerate(imps)]
    labeled.unpersist()
    return spark.createDataFrame(
        rows,
        'backend string, feature_idx long, feature_name string, '
        'importance double')


def q_streaming_window_counts(spark, sf_dir):
    """Watermarked event-time window aggregation as a batch-equivalent
    view: availableNow + complete mode over the events table; counts and
    exact-decimal value sums per (hour window, event_type) must equal
    the DuckDB time_bucket oracle."""
    import tempfile
    import uuid
    from dragnet_spark.streaming.window_stream import run_windowed_counts
    base = tempfile.mkdtemp(prefix='win_stream_q_')
    # watermarks require TIMESTAMP (instant), the table carries NTZ:
    # pin the session to UTC so ntz -> instant -> formatted wall clock
    # round-trips identically to DuckDB's naive time_bucket
    prev_tz = spark.conf.get('spark.sql.session.timeZone')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    try:
        (spark.read.parquet(f'{sf_dir}/events.parquet')
         .withColumn('ts', F.col('ts').cast('timestamp'))
         .coalesce(4).write.mode('overwrite').parquet(f'{base}/src'))
        res = run_windowed_counts(
            spark, f'{base}/src',
            query_name='winq_%s' % uuid.uuid4().hex[:8])
        return res.select(
            F.date_format(F.col('w.start'), 'yyyy-MM-dd HH:mm:ss')
            .alias('window_start'),
            'event_type', 'n_events',
            F.round('total_value', 2).alias('total_value'))
    finally:
        spark.conf.set('spark.sql.session.timeZone', prev_tz)


def q_streaming_dim_join(spark, sf_dir):
    """Stream-static broadcast join + watermarked window agg (the
    metrics-feed enrichment pattern): events stream joined to the
    customer dimension on user_id = c_custkey, aggregated per (hour
    window, market segment).  Counts and exact-decimal value sums must
    equal the DuckDB time_bucket + join oracle."""
    import tempfile
    import uuid
    from dragnet_spark.streaming.join_stream import run_stream_static_join
    base = tempfile.mkdtemp(prefix='dim_join_q_')
    prev_tz = spark.conf.get('spark.sql.session.timeZone')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    try:
        (spark.read.parquet(f'{sf_dir}/events.parquet')
         .withColumn('ts', F.col('ts').cast('timestamp'))
         .coalesce(4).write.mode('overwrite').parquet(f'{base}/src'))
        dim = spark.read.parquet(f'{sf_dir}/customer.parquet')
        res = run_stream_static_join(
            spark, f'{base}/src', dim,
            query_name='dimj_%s' % uuid.uuid4().hex[:8])
        return res.select(
            F.date_format(F.col('w.start'), 'yyyy-MM-dd HH:mm:ss')
            .alias('window_start'),
            F.col('c_mktsegment').alias('mktsegment'),
            'n_events',
            F.round('total_value', 2).alias('total_value'))
    finally:
        spark.conf.set('spark.sql.session.timeZone', prev_tz)


def q_streaming_sessions(spark, sf_dir):
    """Streaming sessionization (session_window): per-user gap-closed
    sessions with counts and exact-decimal value sums; session bounds
    and membership must equal the DuckDB gaps-and-islands oracle.
    Boundary semantics (pinned by test): an event at exactly
    prev_ts + gap still MERGES (session_window extends through its
    end), so the oracle breaks only on strictly-greater gaps."""
    import tempfile
    import uuid
    from dragnet_spark.streaming.session_stream import run_session_windows
    base = tempfile.mkdtemp(prefix='sess_stream_q_')
    prev_tz = spark.conf.get('spark.sql.session.timeZone')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    try:
        (spark.read.parquet(f'{sf_dir}/events.parquet')
         .withColumn('ts', F.col('ts').cast('timestamp'))
         .coalesce(4).write.mode('overwrite').parquet(f'{base}/src'))
        res = run_session_windows(
            spark, f'{base}/src',
            query_name='sessq_%s' % uuid.uuid4().hex[:8])
        return res.select(
            'user_id',
            F.date_format(F.col('w.start'), 'yyyy-MM-dd HH:mm:ss')
            .alias('session_start'),
            F.date_format(F.col('w.end'), 'yyyy-MM-dd HH:mm:ss')
            .alias('session_end'),
            'n_events',
            F.round('total_value', 2).alias('total_value'))
    finally:
        spark.conf.set('spark.sql.session.timeZone', prev_tz)


def q_training_corpus_funnel(spark, sf_dir):
    """The complete LLM training-data pipeline as ONE composed chain --
    the product the north rule's engine exists to build: interleaved
    corpus (amplification=2 renders each article under two chrome
    skins, planting realistic near-dups) -> fused extraction ->
    operators.curation.curate_corpus (Gopher quality + repetition
    gates, MinHash cluster assignment, canonical-only).  Output: the
    funnel (one row of stage survivor counts).  Rows-only: extraction
    + MinHash in the loop; every stage is individually oracle- or
    golden-checked.

    The synthetic corpus draws content words from a ~40-word
    vocabulary, so duplicated 10-grams occur by construction (min
    observed coverage ~0.20); the paper threshold (0.10) would reject
    every document for a data-generator artifact -- the repetition
    gate runs at a corpus-scaled threshold here, while the paper
    default stays pinned by the gopher_repetition oracle + tests."""
    from dragnet_spark.operators.curation import curate_corpus
    from dragnet_spark.sources.synthesis import synthesize_and_extract

    extracted = (synthesize_and_extract(spark, sf_dir, amplification=2)
                 .where(F.col('status') == 'ok')
                 .select('doc_id', F.col('content_text').alias('text'))
                 .cache())
    curated, verdicts = curate_corpus(extracted, dedup_threshold=0.7,
                                      max_dup10=0.6)
    agg = (verdicts.agg(
        F.count('*').alias('n_extracted_ok'),
        F.sum(((F.col('passes_quality') == 1)
               & (F.col('passes_repetition') == 1)).cast('long'))
        .alias('n_quality_pass'),
        F.sum('kept').alias('n_canonical')).collect()[0])
    n_curated = curated.count()
    extracted.unpersist()
    assert n_curated == agg['n_canonical']
    return spark.createDataFrame(
        [(int(agg['n_extracted_ok']), int(agg['n_quality_pass']),
          int(agg['n_canonical']))],
        'n_extracted_ok long, n_quality_pass long, n_canonical long')


def q_events_props_json(spark, sf_dir):
    """Semi-structured payload parsing: events.props JSON parsed
    JVM-side (from_json, whole-stage codegen -- no Python) and the k
    field aggregated per event_type; missing/corrupt payloads counted
    as n_missing, never dropped."""
    from dragnet_spark.operators.semistructured import json_props_stats
    return json_props_stats(
        spark.read.parquet(f'{sf_dir}/events.parquet'))


def q_events_props_variant(spark, sf_dir):
    """Spark 4 VARIANT path for the same payload aggregation:
    try_parse_json -> try_variant_get typed extraction (schema-on-read;
    no struct re-declaration as payload fields grow).  Shares the
    events_props_json DuckDB oracle -- both engines and both Spark
    paths must agree."""
    from dragnet_spark.operators.semistructured import variant_props_stats
    return variant_props_stats(
        spark.read.parquet(f'{sf_dir}/events.parquet'))


def q_gold_corrected_source(spark, sf_dir):
    """Spark 4 Python Data Source over the reference's own gold-corpus
    directory layout: spark.read.format('gold_corrected') lists file
    names driver-side, parses per-executor.  Runs against the
    reference's real Corrected/ fixtures (public test data); the
    DuckDB oracle re-reads the same files with read_text + the same
    first-occurrence delimiter split."""
    from dragnet_spark.sources.gold_datasource import register
    register(spark)
    # the utf-16 fixture is not valid UTF-8, which DuckDB's read_text
    # refuses outright; it is excluded from the oracle pair on BOTH
    # sides and pinned by tests/test_gold_io_features.py instead
    return (spark.read.format('gold_corrected')
            .load('/root/reference/test/datafiles/Corrected')
            .where(F.col('doc_id') != 'utf-16.html')
            .orderBy('doc_id'))


def q_sample_deterministic(spark, sf_dir):
    """Reproducible 10% corpus sample: md5(doc_id)-prefix bucket
    comparison, identical membership on every engine/run/partitioning
    (unlike sample()); one narrow filter, no shuffle."""
    from dragnet_spark.operators.text_analysis import deterministic_sample
    return (deterministic_sample(_docs(spark, sf_dir, spread=False), 0.1)
            .select('doc_id', 'lang'))


def q_sample_stratified(spark, sf_dir):
    """Per-language deterministic rebalancing (downsample the head,
    keep the tail): en 50%, de 25%, zh 10%; same md5-prefix rule per
    stratum, shuffle-free."""
    from dragnet_spark.operators.text_analysis import stratified_sample
    return (stratified_sample(_docs(spark, sf_dir, spread=False),
                              {'en': 0.5, 'de': 0.25, 'zh': 0.1})
            .select('doc_id', 'lang'))


def q_host_skew_salting(spark, sf_dir):
    """North-rule skew machinery, observable: ~30% of the corpus shares
    one host prefix; a plain repartition-by-host puts that share in one
    task, salt_by_host spreads it across `salts` partitions while keeping
    each host's rows in at most `salts` tasks.  Output: the max partition
    share under each strategy (hash partitioning is deterministic).
    Rows-only: partition internals are not SQL-observable."""
    from dragnet_spark.plans.partitioning import host_of, salt_by_host
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    spans_df = spans_df.cache()
    n = spans_df.count()

    def max_share(df):
        counts = (df.withColumn('_p', F.spark_partition_id())
                  .groupBy('_p').count().agg(F.max('count')).first()[0])
        return round(counts / n, 4)

    unsalted = spans_df.repartition(8, host_of(F.col('doc_id')))
    salted = salt_by_host(spans_df, 8, salts=8)
    hot = (spans_df.groupBy(host_of(F.col('doc_id')).alias('h')).count()
           .agg(F.max('count')).first()[0])
    return spark.createDataFrame(
        [(round(hot / n, 4), max_share(unsalted), max_share(salted))],
        'hot_host_share double, max_partition_share_unsalted double, '
        'max_partition_share_salted double')


def q_streaming_extract_batch(spark, sf_dir):
    """Structured Streaming extraction as a batch view: the same fused
    Arrow stage over a file source with availableNow + exactly-once
    parquet sink (engine commit log), aggregated to order-insensitive
    per-status counts.  Rows-only: extraction is not SQL-expressible."""
    import tempfile
    from dragnet_spark.streaming.extract_stream import run_file_stream
    from dragnet_spark.sources.synthesis import synthesize_corpus
    base = tempfile.mkdtemp(prefix='extract_stream_q_')
    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    spans_df.coalesce(4).write.mode('overwrite').parquet(f'{base}/src')
    run_file_stream(spark, f'{base}/src', f'{base}/out', f'{base}/chk')
    out = spark.read.parquet(f'{base}/out')
    return out.groupBy('status').agg(
        F.count('*').alias('n_docs'),
        F.sum(F.length('content_text')).alias('content_chars'))


def q_dedup_after_extraction(spark, sf_dir):
    """Dedup x extraction showcase: re-skinned mirror documents (same
    article syndicated under a different template) are invisible to raw-HTML MinHash near-dup -- the differing chrome
    dominates the shingle stream -- but found once boilerplate is
    stripped by extraction.  Output: per-method planted-pair hit counts.
    """
    from dragnet_spark.operators.dedup import minhash_near_duplicates
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.sources.synthesis import synthesize_with_mirrors

    spans = synthesize_with_mirrors(spark, sf_dir).cache()
    n_mirrors = spans.where(F.col('doc_id').startswith('mirror/')).count()

    raw = spans.select(
        'doc_id',
        F.array_join(F.transform('spans', lambda s: s['text']), ' ')
        .alias('text'))
    ext = extract(spans).select(
        'doc_id', F.col('content_text').alias('text'))

    is_planted = (F.col('doc_b') == F.concat(F.lit('mirror/'),
                                             F.col('doc_a')))

    def hits(pairs_df):
        return (pairs_df.where(is_planted).count(),
                pairs_df.where(~is_planted).count())

    raw_hits, raw_other = hits(minhash_near_duplicates(raw, threshold=0.7))
    ext_hits, ext_other = hits(minhash_near_duplicates(ext, threshold=0.7))
    return spark.createDataFrame(
        [(n_mirrors, raw_hits, raw_other, ext_hits, ext_other)],
        'n_mirror_docs long, raw_pairs_found long, raw_false_pairs long, '
        'extracted_pairs_found long, extracted_false_pairs long')


def q_cross_format_neardup(spark, sf_dir):
    """Interleaved-corpus showcase (graft cell payload: interleaved):
    the SAME source article arrives once as an HTML span document and
    once as a PDF payload.  Each format goes through its own extraction
    path (fused HTML extract; PDF layout parse + de-chrome), then ONE
    format-agnostic token-set Jaccard pass over the unioned
    (doc_id, content) rows mines the cross-format duplicates -- the
    at-scale recipe for a training pipeline that must not keep both the
    web page and the PDF of the same article.

    HTML extraction keeps only the content region (comment sentences
    are chrome-free but separate), so the two renditions overlap
    partially -- realistic near-dup, not exact-dup.  Shingle-set MinHash
    (order-sensitive) is the discriminator: the synthetic corpus draws
    from a tiny token vocabulary, so token-SET similarity is ~1 between
    ANY two docs while 3-token shingle overlap stays specific to the
    shared passage.  Output: planted cross-format pair recall +
    false-pair count (rows-only; extraction is not SQL-expressible).
    """
    from dragnet_spark.operators.dedup import minhash_near_duplicates
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.operators.pdf_extract import (pdf_corpus,
                                                     pdf_extract_content)
    from dragnet_spark.sources.synthesis import synthesize_corpus

    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    html = (extract(spans_df)
            .select(F.concat(F.lit('h!'),
                             F.regexp_extract('doc_id', r'doc-0*(\d+)-',
                                              1)).alias('doc_id'),
                    F.col('content_text').alias('text'))
            .where(F.length('text') > 0))
    pdf = (pdf_extract_content(pdf_corpus(spark, sf_dir))
           .select(F.concat(F.lit('p!'), 'doc_id').alias('doc_id'),
                   F.col('content_text').alias('text'))
           .where(F.length('text') > 0))
    pairs = (minhash_near_duplicates(html.union(pdf), threshold=0.3,
                                     bands=16)
             .where(F.substring('doc_a', 1, 2)
                    != F.substring('doc_b', 1, 2)))
    planted = (F.substring('doc_a', 3, 10 ** 6)
               == F.substring('doc_b', 3, 10 ** 6))
    n_docs = pdf.count()
    return spark.createDataFrame(
        [(n_docs,
          pairs.where(planted).count(),
          pairs.where(~planted).count())],
        'n_source_docs long, cross_format_pairs_found long, '
        'cross_format_false_pairs long')


def q_checkpoint_resume(spark, sf_dir):
    """S7 resume semantics, hash-checked end-to-end: a first run
    processes a doc_id-range prefix, a resumed run anti-joins the
    completed ranges and finishes the rest; the committed-only reader
    view must hold every document exactly once across exactly two
    manifest-committed runs."""
    import tempfile
    from dragnet_spark.sources.checkpoint import (
        extract_resumable, read_extracted, read_manifest)
    from dragnet_spark.sources.synthesis import synthesize_corpus
    base = tempfile.mkdtemp(prefix='ckpt_resume_q_')
    spans_df, _ = synthesize_corpus(spark, sf_dir, include_edge_docs=False)
    spans_df = spans_df.cache()
    n = spans_df.count()
    mid = (spans_df.select('doc_id').orderBy('doc_id')
           .limit(max(n // 2, 1)).agg(F.max('doc_id')).first()[0])
    extract_resumable(spark, spans_df.where(F.col('doc_id') <= mid), base,
                      num_partitions=8)
    extract_resumable(spark, spans_df, base, num_partitions=8)
    committed = read_extracted(spark, base)
    manifest = read_manifest(spark, base)
    return committed.agg(
        F.count('*').alias('n_committed'),
        F.countDistinct('doc_id').alias('n_distinct_docs')).crossJoin(
        manifest.agg(
            F.countDistinct('run_id').alias('n_runs'),
            F.sum('n_docs').alias('n_docs_manifest')))


def q_segment_order_stats(spark, sf_dir):
    """Broadcast-join sanity: orders x customer rollup by market segment."""
    orders = spark.read.parquet(f'{sf_dir}/orders.parquet')
    cust = spark.read.parquet(f'{sf_dir}/customer.parquet')
    joined = orders.join(F.broadcast(cust),
                         orders.o_custkey == cust.c_custkey)
    return joined.groupBy('c_mktsegment').agg(
        F.count('*').alias('n_orders'),
        F.sum(F.col('o_totalprice').cast('decimal(18,2)'))
        .cast('double').alias('total_price'))


# ---------------------------------------------------------------------------
# merged query surfaces (VERDICT r04 #2): the driver validates only the
# FIRST 50 queries() entries, so related variants are unioned under a tag
# column instead of holding separate dict slots -- every merged component
# keeps its own q_* wrapper above (bench.py and tests drive them
# individually), and the tag column keeps each variant's rows separately
# hash-checkable inside one oracle row.
# ---------------------------------------------------------------------------


def q_ann_topk_variants(spark, sf_dir):
    """The three approximate ANN designs (SQ8 quantized scan, IVF
    coarse quantization, composed IVF x SQ8) in one checked surface,
    tagged by variant.  Rows-only: approximate candidate generation is
    not SQL-expressible; per-variant recall/pruning is measured in
    bench.py and pinned by tests.  The exact path keeps its own green
    oracle row (ann_topk_bruteforce)."""
    def tag(df, v):
        return df.select(F.lit(v).alias('variant'), 'query_id', 'rank',
                         'neighbor_id')
    return (tag(q_ann_topk_quantized(spark, sf_dir), 'sq8')
            .unionByName(tag(q_ann_topk_ivf(spark, sf_dir), 'ivf'))
            .unionByName(tag(q_ann_topk_ivf_quantized(spark, sf_dir),
                             'ivf_sq8')))


def q_embedding_near_duplicates_all(spark, sf_dir):
    """Embedding near-dup at both band configurations: 16-bit bands
    (small-corpus regime) and the 10^9-doc 24-bit + 2-probe multiprobe
    regime, tagged by method.  Rows-only; planted-pair recall asserted
    in tests and measured in bench.py."""
    def tag(df, m):
        return df.select(F.lit(m).alias('method'), 'vec_a', 'vec_b',
                         'cosine')
    return (tag(q_embedding_near_duplicates(spark, sf_dir), 'band16')
            .unionByName(
                tag(q_embedding_near_duplicates_multiprobe(spark, sf_dir),
                    'band24_probe2')))


def q_lsh_near_duplicates(spark, sf_dir):
    """Text near-dup through both LSH families -- MinHash (score =
    verified token Jaccard) and SimHash (score = Hamming distance) --
    tagged by method.  Rows-only; pair sets are pinned by
    tests/test_pipeline_ops.py and the verified-Jaccard side is
    oracle-covered by jaccard_pairs."""
    mh = q_minhash_near_duplicates(spark, sf_dir).select(
        F.lit('minhash').alias('method'), 'doc_a', 'doc_b',
        F.col('jaccard').cast('double').alias('score'))
    sh = q_simhash_near_duplicates(spark, sf_dir).select(
        F.lit('simhash').alias('method'), 'doc_a', 'doc_b',
        F.col('hamming').cast('double').alias('score'))
    return mh.unionByName(sh)


def q_block_features_stages(spark, sf_dir):
    """F7 feature union (raw) and F6 global standardization (zscore) of
    the same blocks DataFrame, tagged by stage.  Rows-only; the
    SQL-expressible twins keep their own green oracle rows
    (kohlschuetter_window, standardize_zscore)."""
    raw = q_block_features(spark, sf_dir).select(
        F.lit('raw').alias('stage'), 'doc_id', 'block_idx', 'feature_idx',
        'value')
    std = q_standardized_features(spark, sf_dir).select(
        F.lit('zscore').alias('stage'), 'doc_id', 'block_idx',
        'feature_idx', 'value')
    return raw.unionByName(std)


def q_relational_sanity(spark, sf_dir):
    """The three relational-engine sanity demos (TPC-H Q1-style pricing
    summary, window-function sessionization, broadcast-join segment
    rollup) flattened to one (demo, group_key, n_rows, measure) surface
    so all three stay inside the driver's 50-query check window.
    measure: pricing = sum_qty + sum_base_price + sum_disc_price (fixed
    IEEE addition order, identical in the oracle), sessions =
    n_sessions, segments = total_price."""
    p = q_pricing_summary(spark, sf_dir).select(
        F.lit('pricing').alias('demo'),
        F.concat_ws('/', 'l_returnflag', 'l_linestatus').alias('group_key'),
        F.col('count_order').alias('n_rows'),
        (F.col('sum_qty') + F.col('sum_base_price')
         + F.col('sum_disc_price')).alias('measure'))
    s = q_events_sessionize(spark, sf_dir).select(
        F.lit('sessions').alias('demo'),
        F.col('user_id').cast('string').alias('group_key'),
        F.col('n_events').alias('n_rows'),
        F.col('n_sessions').cast('double').alias('measure'))
    g = q_segment_order_stats(spark, sf_dir).select(
        F.lit('segments').alias('demo'),
        F.col('c_mktsegment').alias('group_key'),
        F.col('n_orders').alias('n_rows'),
        F.col('total_price').alias('measure'))
    return p.unionByName(s).unionByName(g)


def q_curation_gates(spark, sf_dir):
    """The oracle-checkable prefix of the curation funnel: per-stage
    survivor counts of the Gopher quality + repetition gates over the
    documents table (one row: n_total, n_quality_pass,
    n_repetition_pass, n_both_pass), at the same corpus-scaled
    repetition threshold the full funnel uses (max_dup10=0.6 -- the
    ~40-word synthetic vocabulary makes duplicated 10-grams a
    generator artifact; see training_corpus_funnel).  DuckDB re-derives
    both gates and checks the funnel arithmetic exactly; the full
    pipeline (extraction + MinHash in the loop) remains rows-only."""
    from dragnet_spark.operators.curation import gate_funnel
    return gate_funnel(_docs(spark, sf_dir).select('doc_id', 'text'),
                       max_dup10=0.6)


def q_decontamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C style, 13-gram
    collision rule): ~4% of the corpus (doc_id % 25 == 3) plays the
    held-out benchmark; every corpus doc sharing a 13-token gram with
    it is flagged.  The benchmark docs themselves flag (the exact-leak
    case), as do near-template re-skins.  Broadcast gram-set join --
    the corpus side never shuffles gram text, only (doc_id, 2 longs)
    into the per-doc agg."""
    from dragnet_spark.operators.decontamination import decontaminate
    docs = _docs(spark, sf_dir).select('doc_id', 'text')
    bench = docs.where(F.col('doc_id') % 25 == 3)
    return decontaminate(docs, bench)


def q_pii_scrub(spark, sf_dir):
    """PII redaction: deterministic email/IP/phone strings are planted
    into every 7th document (both engines build the identical planted
    text), then scrubbed by the sequential regexp chain; the md5 of the
    scrubbed text hash-checks the exact replacements, not just the
    counts."""
    from dragnet_spark.operators.pii import scrub_pii
    docs = _docs(spark, sf_dir).select('doc_id', 'text')
    planted = docs.select(
        'doc_id',
        F.when(
            F.col('doc_id') % 7 == 0,
            F.concat(F.col('text'),
                     F.lit(' Contact user'), F.col('doc_id'),
                     F.lit('@example.com or 10.0.'),
                     F.col('doc_id') % 256,
                     F.lit('.7 or call +1 555-01'),
                     F.lpad((F.col('doc_id') % 100).cast('string'),
                            2, '0'),
                     F.lit(' now.'))
        ).otherwise(F.col('text')).alias('text'))
    out = scrub_pii(planted)
    return out.select(
        'doc_id', 'n_email', 'n_ipv4', 'n_phone', 'n_pii',
        F.length('scrubbed_text').alias('scrubbed_len'),
        F.md5(F.col('scrubbed_text').cast('binary')).alias('scrubbed_sig'))


def q_streaming_stateful_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): running
    per-user totals carried in the state store across micro-batches
    (maxFilesPerTrigger=1 over a 4-file copy of events, so state carry
    is real).  The final emits must equal the plain batch GROUP BY --
    the DuckDB oracle."""
    import tempfile
    import uuid
    from dragnet_spark.streaming.stateful_stream import (
        run_stateful_user_totals)
    base = tempfile.mkdtemp(prefix='stateful_q_')
    prev_tz = spark.conf.get('spark.sql.session.timeZone')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    try:
        (spark.read.parquet(f'{sf_dir}/events.parquet')
         .withColumn('ts', F.col('ts').cast('timestamp'))
         .repartition(4).write.mode('overwrite').parquet(f'{base}/src'))
        res = run_stateful_user_totals(
            spark, f'{base}/src', f'{base}/chk_%s' % uuid.uuid4().hex[:8],
            f'{base}/out')
        return res.select('user_id', 'n_events',
                          F.round('total_value', 2).alias('total_value'),
                          'last_seen_us')
    finally:
        spark.conf.set('spark.sql.session.timeZone', prev_tz)


def q_chunk_documents(spark, sf_dir):
    """Fixed-window chunking (128-token windows, stride 96): the
    sequence-packing prep stage.  One narrow codegen projection +
    posexplode, tokenize-once barrier, chunks carried as md5 sig +
    length (thin rows); the full-window/short-tail arithmetic is
    hash-checked against DuckDB."""
    from dragnet_spark.operators.chunking import chunk_documents
    return chunk_documents(_docs(spark, sf_dir).select('doc_id', 'text'))


def q_text_profile(spark, sf_dir):
    """The per-document text-analysis profile in one wide hash-checked
    surface: token counts (punct tokenizer), C4-style quality features
    (lowercase tokenizer -- its token count rides as n_tokens_lower),
    language-ID heuristics, and content/token-set fingerprints.  Each
    family was previously its own queries() slot; the fused operator
    computes all of them in ONE codegen projection (no joins -- the
    join form would shuffle the corpus three times for a narrow
    per-row computation), column-identical to the individual
    operators, which stay exported and tested."""
    from dragnet_spark.operators.text_analysis import text_profile
    return text_profile(_docs(spark, sf_dir))


def q_gopher_gates(spark, sf_dir):
    """Both Gopher gate tables (Rae et al. 2021 A1.1) joined per doc:
    quality stats + pass flag and repetition fractions + pass flag --
    one hash-checked row per document covering the full gate surface
    (the funnel arithmetic over these is curation_gates)."""
    q = q_gopher_quality(spark, sf_dir).withColumnRenamed(
        'passes', 'passes_quality')
    r = q_gopher_repetition(spark, sf_dir)
    return q.join(r, 'doc_id')


def q_events_props(spark, sf_dir):
    """Both semi-structured engines over the same payload aggregation --
    from_json (declared struct schema) and Spark 4 VARIANT
    (try_parse_json schema-on-read) -- tagged by engine; the oracle
    computes the body once and cross-joins the two tags, so each
    engine's rows are hash-checked independently."""
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    from dragnet_spark.operators.semistructured import (json_props_stats,
                                                        variant_props_stats)
    cols = ['group_key', 'n_events', 'n_missing', 'sum_k', 'min_k', 'max_k']
    j = json_props_stats(ev).select(F.lit('from_json').alias('engine'),
                                    *cols)
    v = variant_props_stats(ev).select(F.lit('variant').alias('engine'),
                                       *cols)
    return j.unionByName(v)


def q_sample_hash_bucket(spark, sf_dir):
    """Deterministic md5-bucket sampling, uniform (10%) and stratified
    per-language (en 50% / de 25% / zh 10%), tagged by mode; membership
    is engine/run/partitioning-invariant so both modes hash-check."""
    u = q_sample_deterministic(spark, sf_dir).select(
        F.lit('uniform_10pct').alias('mode'), 'doc_id', 'lang')
    s = q_sample_stratified(spark, sf_dir).select(
        F.lit('stratified').alias('mode'), 'doc_id', 'lang')
    return u.unionByName(s)


def q_gold_readers(spark, sf_dir):
    """S2 both gold-standard reader modes -- corrected-text (content +
    '!@#$%^&*() COMMENTS' delimiter) and CleanEval (raw-HTML gold) --
    tagged by corpus; each mode's parse is hash-checked against the
    DuckDB re-derivation of the same deterministic fixtures."""
    rt = q_gold_corrected_roundtrip(spark, sf_dir).select(
        F.lit('corrected').alias('corpus'), 'doc_id', 'content_text',
        'comments_text')
    ce = q_cleaneval_gold(spark, sf_dir).select(
        F.lit('cleaneval').alias('corpus'), 'doc_id', 'content_text',
        'comments_text')
    return rt.unionByName(ce)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # extraction pipeline (rows-only checks; non-SQL-expressible)
        'extract_content': q_extract_content,
        'extract_spans': q_extract_spans,
        'blockify_blocks': q_blockify_blocks,
        'block_features': q_block_features_stages,
        'gold_block_labeling': q_gold_block_labeling,
        'token_f1_extraction': q_token_f1_extraction,
        'lsh_near_duplicates': q_lsh_near_duplicates,
        'embedding_near_duplicates': q_embedding_near_duplicates_all,
        'ann_topk_variants': q_ann_topk_variants,
        'media_feature_extract': q_media_feature_extract,
        'clustered_weninger': q_clustered_weninger,
        # oracle-checked
        'text_profile': q_text_profile,
        'gopher_gates': q_gopher_gates,
        'dedup_clusters': q_dedup_clusters,
        'duplicated_passages': q_duplicated_passages,
        'dedup_exact': q_dedup_exact,
        'jaccard_pairs': q_jaccard_pairs,
        'ann_topk_bruteforce': q_ann_topk_bruteforce,
        'block_label_threshold': q_block_label_threshold,
        'block_metrics_weighted': q_block_metrics_weighted,
        'token_f1_demo': q_token_f1_demo,
        'gold_readers': q_gold_readers,
        'media_stats': q_media_stats,
        'pdf_layout_blocks': q_pdf_layout_blocks,
        'pdf_extract_content': q_pdf_extract_content,
        'cross_format_neardup': q_cross_format_neardup,
        'kohlschuetter_window': q_kohlschuetter_window,
        'weninger_smooth': q_weninger_smooth,
        'standardize_zscore': q_standardize_zscore,
        'css_token_flags': q_css_token_flags,
        'streaming_dedup_batch': q_streaming_dedup_batch,
        'streaming_window_counts': q_streaming_window_counts,
        'streaming_dim_join': q_streaming_dim_join,
        'streaming_sessions': q_streaming_sessions,
        'training_corpus_funnel': q_training_corpus_funnel,
        'curation_gates': q_curation_gates,
        'decontamination': q_decontamination,
        'pii_scrub': q_pii_scrub,
        'chunk_documents': q_chunk_documents,
        'streaming_stateful_totals': q_streaming_stateful_totals,
        'events_props': q_events_props,
        'gold_corrected_source': q_gold_corrected_source,
        'sample_hash_bucket': q_sample_hash_bucket,
        'feature_importances': q_feature_importances,
        'template_mining': q_template_mining,
        'checkpoint_resume': q_checkpoint_resume,
        'dedup_after_extraction': q_dedup_after_extraction,
        'streaming_extract_batch': q_streaming_extract_batch,
        'host_skew_salting': q_host_skew_salting,
        'relational_sanity': q_relational_sanity,
    }


_TOKS = "list_filter(regexp_split_to_array({src}, '[^a-zA-Z0-9]+'), x -> x <> '')"
_TOKS_L = "list_filter(regexp_split_to_array(lower({src}), '[^a-z0-9]+'), x -> x <> '')"

_EN_STOP = "['the','and','of','to','in','is','was','that','for','with']"
_DE_STOP = "['der','die','das','und','ist','nicht','mit','ein','eine','zu']"
_FR_STOP = "['le','les','et','des','une','est','dans','pour','qui','au']"
_ES_STOP = "['el','los','las','que','por','una','es','para','como','su']"


def _css_flags_oracle():
    from dragnet_spark.kernels.features.css import ATTRIBUTE_TOKENS
    toks36 = [t for _, toks in ATTRIBUTE_TOKENS for t in toks]
    lit = '[' + ', '.join("'%s'" % t for t in toks36) + ']'
    return f"""
        SELECT d.doc_id, r.i AS feature_idx,
               CAST(CASE WHEN strpos(lower(d.text), tl[r.i + 1]) > 0
                    THEN 1 ELSE 0 END AS BIGINT) AS flag
        FROM documents d,
             (SELECT unnest(range({len(toks36)})) AS i) r,
             (SELECT {lit} AS tl) t
    """


def _token_count_oracle(toks):
    return f"""
            SELECT doc_id,
                   len({toks}) AS n_tokens,
                   len(list_distinct({toks})) AS n_distinct_tokens,
                   length(text) AS n_chars_text
            FROM documents
        """


def _text_quality_oracle(toks_l):
    return f"""
            SELECT doc_id,
                   length(text) AS n_chars_text,
                   len({toks_l}) AS n_tokens,
                   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::double
                     / greatest(length(text), 1) AS punct_ratio,
                   len(list_distinct(list_intersect(list_distinct({toks_l}), {_EN_STOP}))) AS en_stopword_hits,
                   length(text)::double / greatest(len({toks_l}), 1) AS mean_token_len,
                   CASE WHEN len({toks_l}) >= 10
                             AND length(text)::double / greatest(len({toks_l}), 1) < 12.0
                        THEN 1 ELSE 0 END AS quality_ok
            FROM documents
        """


def _language_id_oracle(toks_l):
    return f"""
            WITH t AS (
              SELECT doc_id, text, list_distinct({toks_l}) AS dt,
                     length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS non_cjk
              FROM documents
            ), h AS (
              SELECT doc_id, text, non_cjk,
                     len(list_distinct(list_intersect(dt, {_EN_STOP}))) AS en_hits,
                     len(list_distinct(list_intersect(dt, {_DE_STOP}))) AS de_hits,
                     len(list_distinct(list_intersect(dt, {_FR_STOP}))) AS fr_hits,
                     len(list_distinct(list_intersect(dt, {_ES_STOP}))) AS es_hits,
                     (length(text) - non_cjk)::double / greatest(length(text), 1) AS cjk_ratio
              FROM t
            )
            SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
                   round(cjk_ratio, 6) AS cjk_ratio,
                   CASE WHEN cjk_ratio > 0.2 THEN 'zh'
                        WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                        WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
                        WHEN fr_hits >= es_hits THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM h
        """


def _fingerprints_oracle(toks_l):
    return f"""
            SELECT doc_id,
                   md5(text) AS content_sig,
                   md5(array_to_string(list_sort(list_distinct({toks_l})), ' ')) AS tokenset_sig
            FROM documents
        """


def _gopher_quality_oracle():
    """DuckDB twin of gopher_quality_flags (per-doc stats + passes)."""
    return """
        WITH w AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS words
          FROM documents
        ), r AS (
          SELECT doc_id,
                 len(words) AS n_words,
                 CAST(coalesce(list_sum(list_transform(words,
                                            x -> length(x))), 0)
                      AS DOUBLE)
                   / greatest(len(words), 1) AS mean_word_len,
                 ((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', '')))
                    / 3) / greatest(len(words), 1) AS symbol_ratio,
                 CAST(len(list_filter(words,
                          x -> regexp_matches(x, '[a-zA-Z]')))
                      AS DOUBLE)
                   / greatest(len(words), 1) AS alpha_word_frac,
                 len(list_distinct(list_intersect(
                     list_distinct(list_transform(words,
                                                  x -> lower(x))),
                     ['the', 'be', 'to', 'of', 'and', 'that',
                      'have', 'with']))) AS stopword_hits
          FROM w
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(mean_word_len, 6) AS mean_word_len,
               round(symbol_ratio, 6) AS symbol_ratio,
               round(alpha_word_frac, 6) AS alpha_word_frac,
               CAST(stopword_hits AS BIGINT) AS stopword_hits,
               CASE WHEN n_words >= 50 AND n_words <= 100000
                         AND mean_word_len >= 3.0
                         AND mean_word_len <= 10.0
                         AND symbol_ratio <= 0.1
                         AND alpha_word_frac >= 0.8
                         AND stopword_hits >= 2
                    THEN 1 ELSE 0 END AS passes
        FROM r
    """


def _gopher_repetition_oracle(max_top2='0.20', max_dup10='0.10'):
    """DuckDB twin of gopher_repetition_flags_rowwise; thresholds are
    parameters so the corpus-scaled curation_gates oracle reuses the
    exact same n-gram derivation."""
    return f"""
        WITH t AS (
          SELECT doc_id, {_TOKS_L.format(src='text')} AS toks
          FROM documents
        ), b AS (
          SELECT doc_id,
                 CAST(coalesce(list_sum(list_transform(toks,
                          x -> length(x))), 0) AS BIGINT) AS chars,
                 toks
          FROM t
        ), g2 AS (
          SELECT doc_id,
                 array_to_string(toks[i + 1:i + 2], ' ') AS g
          FROM b, unnest(range(greatest(len(toks) - 1, 0))) AS u(i)
        ), g2c AS (
          SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2
        ), top2 AS (
          SELECT doc_id, max((length(g) - 1) * n) AS top2 FROM g2c
          GROUP BY 1
        ), g10 AS (
          SELECT doc_id, i,
                 array_to_string(toks[i + 1:i + 10], ' ') AS g
          FROM b, unnest(range(greatest(len(toks) - 9, 0))) AS u(i)
        ), dupg AS (
          SELECT doc_id, g FROM g10 GROUP BY 1, 2
          HAVING count(*) > 1
        ), cov AS (
          SELECT DISTINCT g10.doc_id, g10.i + v.j AS idx
          FROM g10 JOIN dupg USING (doc_id, g),
               unnest(range(10)) AS v(j)
        ), tp AS (
          SELECT doc_id, u.i AS idx, length(toks[u.i + 1]) AS toklen
          FROM b, unnest(range(len(toks))) AS u(i)
        ), dup10 AS (
          SELECT cov.doc_id, sum(tp.toklen) AS dup10
          FROM cov JOIN tp USING (doc_id, idx)
          GROUP BY 1
        )
        SELECT b.doc_id,
               round(CAST(coalesce(top2.top2, 0) AS DOUBLE)
                     / greatest(b.chars, 1), 6)
                 AS top_2gram_char_frac,
               round(CAST(coalesce(dup10.dup10, 0) AS DOUBLE)
                     / greatest(b.chars, 1), 6)
                 AS dup_10gram_char_frac,
               CASE WHEN CAST(coalesce(top2.top2, 0) AS DOUBLE)
                         / greatest(b.chars, 1) <= {max_top2}
                         AND CAST(coalesce(dup10.dup10, 0) AS DOUBLE)
                         / greatest(b.chars, 1) <= {max_dup10}
                    THEN 1 ELSE 0 END AS passes_repetition
        FROM b
        LEFT JOIN top2 USING (doc_id)
        LEFT JOIN dup10 ON dup10.doc_id = b.doc_id
    """


def oracle_sql() -> dict[str, str]:
    toks = _TOKS.format(src='text')
    toks_l = _TOKS_L.format(src='text')
    return {
        'text_profile': f"""
            WITH tc AS ({_token_count_oracle(toks)}),
            tq AS ({_text_quality_oracle(toks_l)}),
            li AS ({_language_id_oracle(toks_l)}),
            fp AS ({_fingerprints_oracle(toks_l)})
            SELECT tc.doc_id, tc.n_tokens, tc.n_distinct_tokens,
                   tc.n_chars_text,
                   tq.n_tokens AS n_tokens_lower, tq.punct_ratio,
                   tq.en_stopword_hits, tq.mean_token_len, tq.quality_ok,
                   li.en_hits, li.de_hits, li.fr_hits, li.es_hits,
                   li.cjk_ratio, li.pred_lang,
                   fp.content_sig, fp.tokenset_sig
            FROM tc JOIN tq USING (doc_id) JOIN li USING (doc_id)
                    JOIN fp USING (doc_id)
        """,
        'duplicated_passages': f"""
            WITH planted AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 4 = 0
            ), t AS (
              SELECT doc_id, {_TOKS.format(src='text')} AS toks
              FROM planted
            ), g AS (
              SELECT doc_id,
                     array_to_string(toks[i + 1:i + 20], ' ') AS passage
              FROM t, unnest(range(greatest(len(toks) - 19, 0))) AS u(i)
            )
            SELECT md5(passage) AS passage_sig,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences,
                   min(doc_id) AS first_doc_id
            FROM g
            GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2
        """,
        'chunk_documents': f"""
            WITH t AS (
              SELECT doc_id, {_TOKS.format(src='text')} AS toks
              FROM documents
            ), n AS (
              SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
            ), c AS (
              SELECT doc_id, u.i AS chunk_idx,
                     toks[u.i * 96 + 1:u.i * 96 + 128] AS ct
              FROM n, unnest(range((n + 96 - 1) // 96)) AS u(i)
            )
            SELECT doc_id, chunk_idx,
                   CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
                   md5(array_to_string(ct, ' ')) AS chunk_sig
            FROM c
        """,
        'decontamination': f"""
            WITH bt AS (
              SELECT doc_id, {_TOKS.format(src='text')} AS toks
              FROM documents WHERE doc_id % 25 = 3
            ), bg AS (
              SELECT DISTINCT
                     md5(array_to_string(toks[i + 1:i + 13], ' '))
                       AS gram_sig
              FROM bt, unnest(range(greatest(len(toks) - 12, 0))) AS u(i)
            ), dt AS (
              SELECT doc_id, {_TOKS.format(src='text')} AS toks
              FROM documents
            ), dg AS (
              SELECT doc_id,
                     md5(array_to_string(toks[i + 1:i + 13], ' '))
                       AS gram_sig
              FROM dt, unnest(range(greatest(len(toks) - 12, 0))) AS u(i)
            ), hits AS (
              SELECT dg.doc_id,
                     count(DISTINCT dg.gram_sig) AS g,
                     count(*) AS o
              FROM dg JOIN bg USING (gram_sig)
              GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(g, 0) AS n_overlap_grams,
                   coalesce(o, 0) AS n_overlap_occurrences,
                   CAST(CASE WHEN coalesce(g, 0) > 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS contaminated
            FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
        """,
        'pii_scrub': r"""
            WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || ' Contact user' || doc_id
                               || '@example.com or 10.0.'
                               || (doc_id % 256) || '.7 or call +1 555-01'
                               || lpad(CAST(doc_id % 100 AS VARCHAR),
                                       2, '0') || ' now.'
                          ELSE text END AS text
              FROM documents
            ), s1 AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_email,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM planted
            ), s2 AS (
              SELECT doc_id, n_email,
                     len(regexp_extract_all(t1,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
                     regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                                    '<IP>', 'g') AS t2
              FROM s1
            ), s3 AS (
              SELECT doc_id, n_email, n_ipv4,
                     len(regexp_extract_all(t2,
                       '\+\d{1,3}[ -]?(?:\d[ -]?){5,12}\d\b'))
                       AS n_phone,
                     regexp_replace(t2,
                       '\+\d{1,3}[ -]?(?:\d[ -]?){5,12}\d\b',
                       '<PHONE>', 'g') AS t3
              FROM s2
            )
            SELECT doc_id,
                   CAST(n_email AS BIGINT) AS n_email,
                   CAST(n_ipv4 AS BIGINT) AS n_ipv4,
                   CAST(n_phone AS BIGINT) AS n_phone,
                   CAST(n_email + n_ipv4 + n_phone AS BIGINT) AS n_pii,
                   length(t3) AS scrubbed_len,
                   md5(t3) AS scrubbed_sig
            FROM s3
        """,
        'streaming_stateful_totals': """
            SELECT user_id,
                   count(*) AS n_events,
                   round(sum(CAST(value AS DECIMAL(18,2)))::double, 2)
                     AS total_value,
                   max(epoch_us(ts)) AS last_seen_us
            FROM events GROUP BY 1
        """,
        'gopher_gates': f"""
            WITH q AS ({_gopher_quality_oracle()}),
            r AS ({_gopher_repetition_oracle()})
            SELECT q.doc_id, q.n_words, q.mean_word_len, q.symbol_ratio,
                   q.alpha_word_frac, q.stopword_hits,
                   q.passes AS passes_quality,
                   r.top_2gram_char_frac, r.dup_10gram_char_frac,
                   r.passes_repetition
            FROM q JOIN r USING (doc_id)
        """,
        'curation_gates': f"""
            WITH q AS ({_gopher_quality_oracle()}),
            r AS ({_gopher_repetition_oracle(max_dup10='0.6')})
            SELECT count(*) AS n_total,
                   CAST(sum(q.passes) AS BIGINT) AS n_quality_pass,
                   CAST(sum(r.passes_repetition) AS BIGINT)
                     AS n_repetition_pass,
                   CAST(sum(CASE WHEN q.passes = 1
                                 AND r.passes_repetition = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_both_pass
            FROM q JOIN r USING (doc_id)
        """,
        'dedup_exact': """
            SELECT md5(text) AS content_sig,
                   count(*) AS dup_count,
                   min(doc_id) AS canonical_doc_id
            FROM documents
            GROUP BY 1
        """,
        'jaccard_pairs': f"""
            WITH toks AS (
              SELECT doc_id, list_distinct({toks_l}) AS t FROM documents
              WHERE doc_id < 1000
            ), ex AS (
              SELECT doc_id, len(t) AS n, unnest(t) AS tok FROM toks
            ), pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter,
                     any_value(a.n) AS na, any_value(b.n) AS nb
              FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(inter::double / (na + nb - inter), 6) AS jaccard
            FROM pairs
            WHERE round(inter::double / (na + nb - inter), 6) >= 0.8
        """,
        'dedup_clusters': f"""
            -- connected components as a recursive CTE: the reach set
            -- enumerates every (node, reachable-label) pair to a
            -- fixpoint (UNION dedups), then min(label) per node is the
            -- component id -- the same min-label fixpoint the Spark
            -- side iterates distributively (propagate_min_labels)
            WITH RECURSIVE
            p AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 1000
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id < 1000
            ), toks AS (
              SELECT doc_id, list_distinct({toks_l}) AS t FROM p
            ), ex AS (
              SELECT doc_id, len(t) AS n, unnest(t) AS tok FROM toks
            ), pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter,
                     any_value(a.n) AS na, any_value(b.n) AS nb
              FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), edges AS (
              SELECT doc_a, doc_b FROM pairs
              WHERE round(inter::double / (na + nb - inter), 6) >= 0.9
            ), sym AS (
              SELECT doc_a AS src, doc_b AS dst FROM edges
              UNION ALL
              SELECT doc_b, doc_a FROM edges
            ), reach AS (
              SELECT doc_id, doc_id AS label FROM p
              UNION
              SELECT s.dst AS doc_id, r.label
              FROM reach r JOIN sym s ON s.src = r.doc_id
            )
            SELECT doc_id,
                   min(label) AS cluster_id,
                   CAST(CASE WHEN min(label) = doc_id THEN 1 ELSE 0 END
                        AS BIGINT) AS is_canonical,
                   true AS converged
            FROM reach GROUP BY doc_id
        """,
        'ann_topk_bruteforce': """
            WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(q.embedding, c.embedding) AS cos
              FROM q, embeddings c
              WHERE c.vec_id <> q.vec_id
            ), ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
        """,
        'block_label_threshold': f"""
            SELECT doc_id,
                   round((n_chars % 97)::double / 96.0, 6) AS frac,
                   CASE WHEN (n_chars % 97)::double / 96.0 > 0.1
                        THEN 1 ELSE 0 END AS label,
                   least(len({toks}), 200) AS weight
            FROM documents
        """,
        'block_metrics_weighted': f"""
            WITH labeled AS (
              SELECT CASE WHEN n_chars > 280 THEN 1 ELSE 0 END AS label,
                     CASE WHEN len({toks}) > 45 THEN 1 ELSE 0 END AS pred,
                     least(len({toks}), 200) AS weight
              FROM documents
            ), agg AS (
              SELECT
                sum(CASE WHEN label = 1 AND pred = 1 THEN weight ELSE 0 END)::double AS tp,
                sum(CASE WHEN label = 0 AND pred = 1 THEN weight ELSE 0 END)::double AS fp,
                sum(CASE WHEN label = 1 AND pred = 0 THEN weight ELSE 0 END)::double AS fn,
                sum(CASE WHEN label = 0 AND pred = 0 THEN weight ELSE 0 END)::double AS tn
              FROM labeled
            )
            SELECT round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy,
                   round(tp / greatest(tp + fp, 1e-300), 6) AS precision,
                   round(tp / greatest(tp + fn, 1e-300), 6) AS recall,
                   round(2 * tp / greatest(2 * tp + fp + fn, 1e-300), 6) AS f1
            FROM agg
        """,
        'token_f1_demo': f"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct({toks_l}) AS p
              FROM documents
            ), s AS (
              SELECT doc_id, len(p) AS np,
                     len(list_filter(p, x -> length(x) > 3)) AS na
              FROM t
            ), m AS (
              SELECT doc_id,
                     CASE WHEN np > 0 THEN na::double / np ELSE 0.0 END AS precision,
                     CASE WHEN na > 0 THEN 1.0 ELSE 0.0 END AS recall,
                     np, na
              FROM s
            )
            SELECT doc_id,
                   round(precision, 6) AS precision,
                   round(recall, 6) AS recall,
                   round(CASE WHEN precision + recall > 0
                              THEN 2 * precision * recall / (precision + recall)
                              ELSE 0.0 END, 6) AS f1
            FROM m
        """,
        'gold_readers': r"""
            WITH built AS (
              SELECT doc_id::varchar AS doc_id,
                     text || chr(10) || '!@#$%^&*()  COMMENTS' || chr(10)
                          || upper(substr(text, 1, 50)) AS corrected_text
              FROM documents
            ), parts AS (
              SELECT doc_id,
                     str_split_regex(corrected_text,
                       '\n*!@#\$%\^&\*\(\)\s+COMMENTS\n*') AS p
              FROM built
            ), ce AS (
              SELECT doc_id::varchar AS doc_id,
                     '<html><body><h1>' || substr(text, 1, 40)
                     || '</h1><p>' || substr(text, 41)
                     || '</p><div>closing words</div></body></html>' AS h
              FROM documents
            )
            SELECT 'corrected' AS corpus, doc_id,
                   trim(p[1]) AS content_text,
                   trim(coalesce(p[2], '')) AS comments_text
            FROM parts
            UNION ALL
            SELECT 'cleaneval' AS corpus, doc_id,
                   trim(regexp_replace(h, '(<[^>]*>)+', ' ', 'g'))
                     AS content_text,
                   '' AS comments_text
            FROM ce
        """,
        'pdf_extract_content': """
            -- the PDF write -> parse -> layout -> de-chrome round trip
            -- must reproduce the whitespace-normalized source text
            SELECT doc_id::varchar AS doc_id,
                   'Document ' || doc_id AS title,
                   regexp_replace(
                     regexp_replace(coalesce(text, ''), '^\\s+|\\s+$',
                                    '', 'g'),
                     '\\s+', ' ', 'g') AS content_text
            FROM documents
        """,
        'media_stats': """
            SELECT 'img://' || doc_id || '/0.jpg' AS media_ref,
                   doc_id::varchar AS doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   octet_length(encode(text)) AS payload_bytes
            FROM documents
        """,
        'media_feature_extract': """
            WITH mm AS (
              SELECT 'img://' || doc_id || '/0.jpg' AS media_ref,
                     hex(encode(text)) AS h,
                     octet_length(encode(text)) AS nb
              FROM documents
              WHERE octet_length(encode(text)) > 0
            ), nib AS (
              SELECT media_ref, nb,
                     strpos('0123456789ABCDEF',
                            substr(h, CAST(i AS BIGINT) * 2, 1)) - 1 AS n
              FROM mm, unnest(range(1, nb + 1)) AS u(i)
            ), cnts AS (
              SELECT media_ref, n, count(*) AS c
              FROM nib GROUP BY 1, 2
            ), base AS (
              SELECT media_ref, nb, unnest(range(16)) AS feature_idx
              FROM mm
            )
            SELECT base.media_ref,
                   base.feature_idx,
                   CAST(coalesce(cnts.c, 0) AS DOUBLE) / base.nb AS value
            FROM base LEFT JOIN cnts
              ON base.media_ref = cnts.media_ref
             AND base.feature_idx = cnts.n
        """,
        'kohlschuetter_window': f"""
            WITH {_DEMO_BLOCKS_SQL},
            d AS (SELECT doc_id, block_idx,
                         CAST(nd AS DOUBLE) / nt AS ld,
                         CAST(nc AS DOUBLE) / nt AS td
                  FROM m)
            SELECT doc_id, block_idx,
                   coalesce(lag(ld) OVER w, 0.0) AS prev_ld,
                   coalesce(lag(td) OVER w, 0.0) AS prev_td,
                   ld, td,
                   coalesce(lead(ld) OVER w, 0.0) AS next_ld,
                   coalesce(lead(td) OVER w, 0.0) AS next_td
            FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)
        """,
        'weninger_smooth': f"""
            WITH {_DEMO_BLOCKS_SQL},
            d AS (SELECT doc_id, block_idx,
                         CAST(nc AS DOUBLE) / ((nt % 7) + 1) AS ctr
                  FROM m),
            g0 AS (SELECT doc_id, list(ctr ORDER BY block_idx) AS xs
                   FROM d GROUP BY doc_id),
            g1 AS (SELECT doc_id, xs, len(xs) AS n
                   FROM g0 WHERE len(xs) >= 4),
            g2 AS (SELECT doc_id, n, xs, {_dx_expr('duck')} AS dxs FROM g1),
            g3 AS (SELECT doc_id, n,
                          {_smooth_expr('xs', 'duck')} AS sxl,
                          {_smooth_expr('dxs', 'duck')} AS sdxl
                   FROM g2)
            SELECT doc_id,
                   unnest(range(n)) AS block_idx,
                   unnest(sxl) AS sx,
                   unnest(sdxl) AS sdx
            FROM g3
        """,
        'standardize_zscore': f"""
            WITH d AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS x
                       FROM documents),
            s AS (SELECT sum(x) AS s1, sum(x * x) AS s2, count(*) AS cnt
                  FROM d)
            SELECT doc_id, x AS n_tokens,
                   (x - CAST(s1 AS DOUBLE) / cnt)
                   / sqrt(greatest(CAST(s2 AS DOUBLE) / cnt
                          - (CAST(s1 AS DOUBLE) / cnt)
                            * (CAST(s1 AS DOUBLE) / cnt), 1e-12)) AS z
            FROM d, s
        """,
        'css_token_flags': _css_flags_oracle(),
        'streaming_dedup_batch': """
            SELECT 'host' || CAST(doc_id % 13 AS VARCHAR) AS host,
                   count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_first_seen
            FROM documents GROUP BY 1
        """,
        'streaming_window_counts': """
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(CAST(value AS DECIMAL(18,2)))::double, 2)
                     AS total_value
            FROM events GROUP BY 1, 2
        """,
        'streaming_sessions': """
            WITH m AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w
                                        + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), g AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S')
                     AS session_start,
                   strftime(max(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events,
                   round(sum(CAST(value AS DECIMAL(18,2)))::double, 2)
                     AS total_value
            FROM g GROUP BY user_id, sid
        """,
        'events_props': """
            -- CAST sums to BIGINT: DuckDB sum(BIGINT) returns HUGEINT
            -- (int128 -> float64 in the compare frame) while Spark
            -- returns long -- r04's only hash mismatches.  json_valid
            -- guard: DuckDB json_extract ERRORS on malformed JSON
            -- where Spark's from_json/try_parse_json yield null.
            -- Both Spark engines (from_json struct, VARIANT path) must
            -- reproduce the same body, so the oracle computes it once
            -- and cross-joins the engine tags.
            WITH k AS (
              SELECT event_type,
                     CASE WHEN props IS NOT NULL AND json_valid(props)
                          THEN TRY_CAST(json_extract(props, '$.k')
                                        AS BIGINT) END AS k
              FROM events
            ), s AS (
              SELECT event_type AS group_key,
                     count(*) AS n_events,
                     CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_missing,
                     CAST(sum(k) AS BIGINT) AS sum_k,
                     min(k) AS min_k,
                     max(k) AS max_k
              FROM k GROUP BY 1
            )
            SELECT e.engine, s.*
            FROM s CROSS JOIN (VALUES ('from_json'), ('variant'))
                             AS e(engine)
        """,
        'gold_corrected_source': """
            WITH f AS (
              -- first-occurrence split with keep-rest semantics
              -- (maxsplit=1, like the reader): non-greedy anchored
              -- regexes, NOT regexp_split_to_array, which would stop
              -- the comments at a SECOND delimiter inside them
              SELECT regexp_replace(regexp_replace(filename, '^.*/', ''),
                                    '\\.corrected\\.txt$', '')
                       AS doc_id,
                     content,
                     regexp_matches(content,
                       '!@#\\$%\\^&\\*\\(\\)\\s+COMMENTS')
                       AS has_delim
              FROM (
                SELECT filename, decode(content) AS content
                FROM read_blob(
                  '/root/reference/test/datafiles/Corrected/*.corrected.txt')
                WHERE filename NOT LIKE '%utf-16%'
              )
            )
            SELECT doc_id,
                   regexp_replace(
                     CASE WHEN has_delim THEN regexp_extract(content,
                       '(?s)^(.*?)\\n*!@#\\$%\\^&\\*\\(\\)\\s+COMMENTS',
                       1) ELSE content END,
                     '^\\s+|\\s+$', '', 'g') AS content_text,
                   CASE WHEN has_delim
                        THEN regexp_replace(regexp_replace(content,
                          '(?s)^.*?!@#\\$%\\^&\\*\\(\\)\\s+COMMENTS\\n*',
                          ''), '^\\s+|\\s+$', '', 'g')
                        ELSE '' END AS comments_text
            FROM f ORDER BY doc_id
        """,
        'sample_hash_bucket': """
            SELECT 'uniform_10pct' AS mode, doc_id, lang FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
            UNION ALL
            SELECT 'stratified' AS mode, doc_id, lang FROM documents
            WHERE (lang = 'en' AND
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
               OR (lang = 'de' AND
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
               OR (lang = 'zh' AND
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999')
        """,
        'streaming_dim_join': """
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, e.ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   c.c_mktsegment AS mktsegment,
                   count(*) AS n_events,
                   round(sum(CAST(e.value AS DECIMAL(18,2)))::double, 2)
                     AS total_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        'checkpoint_resume': """
            SELECT count(*) AS n_committed,
                   count(*) AS n_distinct_docs,
                   CAST(2 AS BIGINT) AS n_runs,
                   count(*) AS n_docs_manifest
            FROM documents
        """,
        'relational_sanity': """
            -- three relational demos flattened to one tagged surface
            -- (demo, group_key, n_rows, measure); measure addition
            -- order for pricing is fixed (qty + base + disc) so the
            -- IEEE double result is bit-identical across engines
            SELECT 'pricing' AS demo,
                   l_returnflag || '/' || l_linestatus AS group_key,
                   count(*) AS n_rows,
                   (sum(CAST(l_quantity AS DECIMAL(18,2)))::double
                    + sum(CAST(l_extendedprice AS DECIMAL(18,2)))::double
                    + sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2))))::double)
                     AS measure
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            UNION ALL
            SELECT 'sessions', CAST(user_id AS VARCHAR), n_events,
                   CAST(n_sessions AS DOUBLE)
            FROM (
              WITH w AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
              ), flags AS (
                SELECT user_id,
                       CASE WHEN prev_ts IS NULL
                                 OR epoch_us(ts) - epoch_us(prev_ts)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS ns
                FROM w
              )
              SELECT user_id, count(*) AS n_events,
                     CAST(sum(ns) AS BIGINT) AS n_sessions
              FROM flags GROUP BY 1
            )
            UNION ALL
            SELECT 'segments', c_mktsegment, count(*),
                   sum(CAST(o_totalprice AS DECIMAL(18,2)))::double
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
    }

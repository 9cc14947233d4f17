"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import numpy as np
import pytest

import pyspark.sql.functions as F


@pytest.fixture(scope='module')
def docs(spark):
    rows = [
        (1, 'the quick brown fox jumps over the lazy dog again and again'),
        (2, 'the quick brown fox jumps over the lazy dog again and again'),
        (3, 'the quick brown fox jumps over the lazy cat again and again'),
        (4, 'completely different text about spark pipelines at scale'),
        (5, 'der hund läuft nicht mit der katze und das ist gut zu wissen'),
        (6, '报道一出中文内容非常多的文本在这里继续延伸下去没有空格'),
    ]
    return spark.createDataFrame(rows, 'doc_id long, text string')


@pytest.mark.spark
class TestDedup:
    def test_exact_duplicates(self, spark, docs):
        from dragnet_spark.operators.dedup import exact_duplicates
        out = exact_duplicates(docs).collect()
        groups = {r.content_sig: r for r in out}
        dup = [r for r in out if r.dup_count == 2]
        assert len(dup) == 1
        assert dup[0].canonical_doc_id == 1
        assert len(groups) == 5

    def test_jaccard_pairs(self, spark, docs):
        from dragnet_spark.operators.dedup import jaccard_pairs
        out = {(r.doc_a, r.doc_b): r.jaccard
               for r in jaccard_pairs(docs, threshold=0.5).collect()}
        assert out[(1, 2)] == 1.0
        assert (1, 4) not in out
        # doc3 differs by one token: jaccard = 9/11 (distinct sets)
        assert abs(out[(1, 3)] - 9 / 11) < 1e-6  # output rounded to 6dp

    def test_minhash_finds_exact_dup(self, spark, docs):
        from dragnet_spark.operators.dedup import minhash_near_duplicates
        out = {(r.doc_a, r.doc_b): r.jaccard
               for r in minhash_near_duplicates(docs, threshold=0.9).collect()}
        assert out.get((1, 2)) == 1.0

    def test_simhash_exact_dup_distance_zero(self, spark, docs):
        from dragnet_spark.operators.dedup import simhash_near_duplicates
        out = {(r.doc_a, r.doc_b): r.hamming
               for r in simhash_near_duplicates(docs).collect()}
        assert out.get((1, 2)) == 0

    def test_simhash_kernel_pins_r02_reference(self, spark):
        # the r03 batch-vectorized kernel must emit bit-identical
        # signatures to the r02 per-doc implementation (inlined here as
        # the pinned spec), including unicode/empty/None edges
        import zlib
        import numpy as np
        from dragnet_spark.operators.dedup import simhash_signatures

        def r02_sig(text):
            toks = [t for t in
                    ''.join(c if c.isalnum() else ' '
                            for c in (text or '').lower()).split() if t]
            if not toks:
                return 0
            h = np.fromiter(
                ((zlib.crc32(t.encode()) << 32)
                 | zlib.crc32(t.encode()[::-1]) for t in toks),
                dtype=np.uint64, count=len(toks))
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1
                    ).astype(np.int64)
            v = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for b in np.nonzero(v > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            return int(np.int64(sig))

        texts = ['the quick brown fox jumps over the lazy dog',
                 'the quick brown fox jumps over the lazy dog '*40,
                 '', '   ', '___', '%$#@!',
                 'çà-va? Ünïcode 测试 123_abc ß ΔΕΛΤΑ\ntabs\ttoo',
                 'a', 'a a a a a', 'MiXeD CaSe MIXED case mixed']
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        got = {r.doc_id: r.simhash
               for r in simhash_signatures(df).collect()}
        for i, t in rows:
            assert got[i] == r02_sig(t), (i, t)

    def test_simhash_manku_guarantee_hamming3(self, spark):
        # any pair within Hamming <= 3 must share at least one of the 20
        # Manku block-combination buckets (exact pigeonhole over 6 blocks)
        from dragnet_spark.operators.dedup import simhash_buckets
        import random
        random.seed(11)
        rows = []
        for i in range(20):
            sig = random.getrandbits(64)
            flipped = sig
            for b in random.sample(range(64), 3):
                flipped ^= 1 << b
            to_i64 = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
            rows.append((2 * i, to_i64(sig)))
            rows.append((2 * i + 1, to_i64(flipped)))
        sigs = spark.createDataFrame(rows, 'doc_id long, simhash long')
        b = simhash_buckets(sigs)
        a_, b_ = b.alias('a'), b.alias('b')
        cand = (a_.join(b_, (F.col('a.bucket') == F.col('b.bucket'))
                        & (F.col('a.doc_id') + 1 == F.col('b.doc_id')))
                .select('a.doc_id').distinct().collect())
        assert len({r.doc_id for r in cand
                    if r.doc_id % 2 == 0}) == 20

    def test_tokenless_docs_never_pair(self, spark):
        # ADVICE r01: '' sentinel shingle made all token-less docs mutual
        # jaccard-1.0 duplicates
        from dragnet_spark.operators.dedup import minhash_near_duplicates
        rows = [(1, '!!!'), (2, '???'), (3, '<<<>>>'), (4, 'real text here')]
        docs = spark.createDataFrame(rows, 'doc_id long, text string')
        assert minhash_near_duplicates(docs, threshold=0.1).count() == 0

    def test_shingle_table_edge_rows(self, spark):
        # null and token-less texts shingle as [], 1-2 token texts as
        # their lowered joined text, longer ones as distinct 3-token
        # windows in first-occurrence order
        from dragnet_spark.operators.dedup import shingle_df
        texts = [None, '', '!!!', 'One', 'one TWO', 'a b c a b c']
        docs = spark.createDataFrame(list(enumerate(texts)),
                                     'doc_id long, text string')
        got = {r.doc_id: r.shingles for r in shingle_df(docs).collect()}
        assert got == {0: [], 1: [], 2: [], 3: ['one'], 4: ['one two'],
                       5: ['a b c', 'b c a', 'c a b']}

    @pytest.fixture(scope='class')
    def planted_docs(self, spark):
        # 12 base articles, each with a 1-token and a 3-token edit copy
        import random
        rng = random.Random(5)
        vocab = ['w%d' % i for i in range(300)]
        rows, did = [], 0
        for _ in range(12):
            base = [rng.choice(vocab) for _ in range(60)]
            for n_edits in (0, 1, 3):
                toks = list(base)
                for _ in range(n_edits):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                rows.append((did, ' '.join(toks)))
                did += 1
        return spark.createDataFrame(rows, 'doc_id long, text string')

    def test_simhash_pairs_equal_bruteforce_hamming(self, spark,
                                                    planted_docs):
        from dragnet_spark.operators.dedup import (simhash_near_duplicates,
                                                   simhash_signatures)
        sigs = {r.doc_id: r.simhash
                for r in simhash_signatures(planted_docs).collect()}
        ids = sorted(sigs)
        want = {(a, b, bin((sigs[a] ^ sigs[b]) & (2 ** 64 - 1)).count('1'))
                for i, a in enumerate(ids) for b in ids[i + 1:]}
        want = {t for t in want if t[2] <= 3}
        got = {(r.doc_a, r.doc_b, r.hamming)
               for r in simhash_near_duplicates(planted_docs).collect()}
        assert want and got == want

    def test_minhash_pairs_equal_verified_candidates(self, spark,
                                                     planted_docs):
        import re
        from dragnet_spark.operators.dedup import (minhash_candidates,
                                                   minhash_near_duplicates)

        def shingles(text):  # every planted doc has >= 3 tokens
            toks = [t for t in re.split('[^a-zA-Z0-9]+', text.lower()) if t]
            return {' '.join(toks[i:i + 3]) for i in range(len(toks) - 2)}

        sh = {r.doc_id: shingles(r.text) for r in planted_docs.collect()}
        threshold = 0.7
        want = set()
        for r in minhash_candidates(planted_docs).collect():
            a, b = sh[r.doc_a], sh[r.doc_b]
            jac = round(len(a & b) / max(len(a | b), 1), 6)
            if jac >= threshold:
                want.add((r.doc_a, r.doc_b, jac))
        got = {(r.doc_a, r.doc_b, r.jaccard) for r in
               minhash_near_duplicates(planted_docs,
                                       threshold=threshold).collect()}
        assert want and got == want

    def test_minhash_mega_bucket_capped(self, spark):
        # 600 identical boilerplate docs: candidates must be chained
        # (599 pairs), not the quadratic 179,700
        from dragnet_spark.operators.dedup import (minhash_candidates,
                                                   minhash_near_duplicates)
        rows = [(i, 'identical boilerplate template family page content')
                for i in range(600)]
        docs = spark.createDataFrame(rows, 'doc_id long, text string')
        cand = minhash_candidates(docs).collect()
        assert len(cand) == 599
        assert all(r.capped for r in cand)
        out = minhash_near_duplicates(docs, threshold=0.9).collect()
        assert len(out) == 599
        assert all(r.jaccard == 1.0 for r in out)


@pytest.mark.spark
class TestSimilarity:
    @pytest.fixture(scope='class')
    def emb(self, spark):
        rs = np.random.RandomState(7)
        base = rs.standard_normal((20, 16)).astype(np.float32)
        base[1] = base[0] + 0.01 * rs.standard_normal(16).astype(np.float32)
        rows = [(i, base[i].tolist()) for i in range(20)]
        return spark.createDataFrame(rows, 'vec_id long, embedding array<float>')

    def test_bruteforce_topk_finds_planted_neighbor(self, spark, emb):
        from dragnet_spark.operators.similarity import cosine_topk
        q = emb.where('vec_id = 0')
        out = cosine_topk(emb, q, k=3).collect()
        assert [r.rank for r in out] == [1, 2, 3]
        assert out[0].neighbor_id == 1  # the planted near-duplicate

    def test_quantized_topk_finds_planted_neighbor(self, spark, emb):
        from dragnet_spark.operators.similarity import quantized_topk
        q = emb.where('vec_id = 0')
        out = quantized_topk(emb, q, k=3, rerank_frac=0.25).collect()
        assert [r.rank for r in out] == [1, 2, 3]
        assert out[0].neighbor_id == 1
        # at the default rerank_frac too
        assert quantized_topk(emb, q, k=3).collect()[0].neighbor_id == 1

    def test_quantized_topk_matches_bruteforce(self, spark, emb):
        # at rerank_frac=1.0 the quantized prefilter keeps everything:
        # output must equal the exact baseline
        from dragnet_spark.operators.similarity import (cosine_topk,
                                                        quantized_topk)
        q = emb.where('vec_id <= 2')
        exact = {(r.query_id, r.rank): r.neighbor_id
                 for r in cosine_topk(emb, q, k=5).collect()}
        approx = {(r.query_id, r.rank): r.neighbor_id
                  for r in quantized_topk(emb, q, k=5,
                                          rerank_frac=1.0).collect()}
        assert exact == approx

    def test_embedding_near_duplicates(self, spark, emb):
        from dragnet_spark.operators.similarity import embedding_near_duplicates
        out = embedding_near_duplicates(emb, threshold=0.99, bands=8,
                                        bits=4).collect()
        assert {(r.vec_a, r.vec_b) for r in out} == {(0, 1)}

    def test_lsh_signatures_build_runs_no_job(self, spark, emb):
        # the hyperplanes take the vector width from the batch inside
        # the stage: building the frame must not run a job to learn it
        from dragnet_spark.operators.similarity import (LSH_BANDS,
                                                        lsh_band_signatures)
        spread = emb.repartition(2)
        sc = spark.sparkContext
        sc.setJobGroup('lsh-build', 'lsh_band_signatures build')
        try:
            sigs = lsh_band_signatures(spread)
        finally:
            sc.setLocalProperty('spark.jobGroup.id', None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup('lsh-build')) == []
        assert sigs.count() == 20 * LSH_BANDS

    def test_planted_duplicates_found_at_16bit_bands(self, spark, emb):
        from dragnet_spark.operators.similarity import (
            embedding_near_duplicates, with_planted_duplicates)
        planted = with_planted_duplicates(emb, noise=0.03)
        out = embedding_near_duplicates(planted, threshold=0.9).collect()
        found = {(r.vec_a, r.vec_b) for r in out}
        hits = sum((i, i + 1_000_000) in found for i in range(20))
        assert hits >= 18, found  # >= 90% recall on planted pairs
        # determinism: same derived table on re-run
        again = with_planted_duplicates(emb, noise=0.03)
        a = sorted(planted.selectExpr('vec_id', 'round(embedding[0], 9) e')
                   .collect())
        b = sorted(again.selectExpr('vec_id', 'round(embedding[0], 9) e')
                   .collect())
        assert a == b

    def test_multiprobe_24bit_bands_keep_recall(self, spark):
        # VERDICT r02 #7: at bits=24 (the 10^9-doc regime key width,
        # where plain banding loses recall) 2-probe multi-probe recovers
        # recall >= 0.99 on the planted near-dup pairs, and candidate
        # volume stays ~linear when the corpus doubles
        import pyspark.sql.functions as F
        from dragnet_spark.operators.similarity import (
            bucket_candidate_pairs, embedding_near_duplicates,
            lsh_band_signatures, with_planted_duplicates)
        emb = spark.read.parquet('/root/testdata/sf0.01/embeddings.parquet')
        n_base = emb.count()
        planted = with_planted_duplicates(emb).cache()
        found = {(r.vec_a, r.vec_b)
                 for r in embedding_near_duplicates(
                     planted, threshold=0.9, bits=24, probes=2).collect()}
        hits = sum((i, i + 1_000_000) in found for i in range(n_base))
        assert hits / n_base >= 0.99, hits

        def n_candidates(df):
            sigs = lsh_band_signatures(df, bits=24, probes=2)
            return bucket_candidate_pairs(
                sigs.select('vec_id', 'bucket'), 'vec_id', 'a', 'b',
                assume_distinct=True).count()
        # doubled corpus from DISJOINT base vectors (sf0.1 ids 500-999),
        # so the number of true planted pairs exactly doubles -- candidate
        # growth then isolates the random-collision term
        emb2 = (spark.read.parquet('/root/testdata/sf0.1/embeddings.parquet')
                .where((F.col('vec_id') >= 500) & (F.col('vec_id') < 1000)))
        half2 = with_planted_duplicates(emb2, id_offset=2_000_000)
        doubled = planted.union(half2)
        c1 = n_candidates(planted)
        c2 = n_candidates(doubled)
        assert c2 <= 2.6 * c1, (c1, c2)   # ~linear, not quadratic (4x)
        planted.unpersist()

    def test_bucket_cap_chains_mega_buckets(self, spark):
        from dragnet_spark.operators.similarity import bucket_candidate_pairs
        rows = [(i, 7) for i in range(600)] + [(1000, 8), (1001, 8)]
        keyed = spark.createDataFrame(rows, 'vec_id long, bucket long')
        out = bucket_candidate_pairs(keyed, 'vec_id', 'a', 'b',
                                     bucket_cap=256).collect()
        capped = [r for r in out if r.capped]
        normal = [r for r in out if not r.capped]
        # mega-bucket: 599 chained pairs, not 600*599/2
        assert len(capped) == 599
        assert all(r.b == r.a + 1 for r in capped)
        assert {(r.a, r.b) for r in normal} == {(1000, 1001)}

    def test_bucket_pairs_never_materialize_mega_bucket(self, spark):
        # VERDICT r02 #3: a degenerate identical-doc family (one bucket,
        # 100k members) must stream through -- the plan may not
        # collect_set/collect_list a whole bucket into one row; the only
        # collect_list is the bounded rowsBetween(1, cap) window frame.
        from dragnet_spark.operators.similarity import bucket_candidate_pairs
        keyed = spark.range(100_000).selectExpr(
            'id as vec_id', 'cast(1 as long) as bucket')
        out = bucket_candidate_pairs(keyed, 'vec_id', 'a', 'b',
                                     bucket_cap=256, assume_distinct=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert 'collect_set' not in plan.lower(), plan
        # every collect_list must carry an explicit bounded row frame
        for frag in plan.lower().split('collect_list')[1:]:
            frag = frag.replace(' ', '')[:200]
            assert ('rowsbetween(1,256)' in frag
                    or 'specifiedwindowframe(rowframe,1,256)' in frag), frag
        rows = out.collect()
        assert len(rows) == 99_999          # full chain, linear output
        assert all(r.capped and r.b == r.a + 1 for r in rows)


@pytest.mark.spark
class TestTextAnalysis:
    def test_language_id(self, spark, docs):
        from dragnet_spark.operators.text_analysis import language_id
        out = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
        assert out[1] == 'en'
        assert out[5] == 'de'
        assert out[6] == 'zh'

    def test_token_counts(self, spark, docs):
        from dragnet_spark.operators.text_analysis import token_counts
        r = {x.doc_id: x for x in token_counts(docs).collect()}
        assert r[1].n_tokens == 12
        assert r[1].n_distinct_tokens == 10

    def test_fingerprints_dup_keys_match(self, spark, docs):
        from dragnet_spark.operators.text_analysis import fingerprints
        r = {x.doc_id: x for x in fingerprints(docs).collect()}
        assert r[1].content_sig == r[2].content_sig
        assert r[1].tokenset_sig == r[2].tokenset_sig
        assert r[1].content_sig != r[3].content_sig


@pytest.mark.spark
class TestMultimodal:
    def test_media_plumbing(self, spark, docs):
        from dragnet_spark.operators.multimodal import (
            decode_media, extract_media_features, media_table)
        media = media_table(docs)
        feats = extract_media_features(media, n_features=8).collect()
        assert len(feats) == docs.count()
        for r in feats:
            assert len(r.features) == 8
            assert abs(sum(r.features) - 1.0) < 1e-9
        with pytest.raises(NotImplementedError):
            decode_media('image', b'\xff\xd8')


@pytest.mark.spark
class TestDedupAfterExtraction:
    def test_mirror_pairs_found_only_after_extraction(self, spark):
        # re-skinned mirrors share content but not chrome: raw-HTML
        # near-dup misses every planted pair, extracted-content near-dup
        # finds the bulk of them
        import sys
        sys.path.insert(0, '/root/repo')
        import __spark_entry__ as entry
        row = entry.q_dedup_after_extraction(
            spark, '/root/testdata/sf0.001').collect()[0]
        assert row.n_mirror_docs > 0
        assert row.raw_pairs_found == 0
        assert row.extracted_pairs_found >= 0.5 * row.n_mirror_docs

    def test_mirror_content_is_near_duplicate(self, spark):
        from dragnet_spark.sources.synthesis import make_document
        spans_a, gold_a, _ = make_document('h001/doc-x', 
            'First sentence here. Second one follows. Third sentence now. '
            'Fourth closes it. Fifth adds more. Sixth is last.')
        spans_b, gold_b, _ = make_document(
            'mirror/h001/doc-x',
            'First sentence here. Second one follows. Third sentence now. '
            'Fourth closes it. Fifth adds more. Sixth is last.',
            chrome='alt', layout_key='h001/doc-x')
        # identical gold content; differing rendered chrome
        assert gold_a == gold_b
        html_a = ' '.join(t for k, t, m, o in spans_a if k == 'text')
        html_b = ' '.join(t for k, t, m, o in spans_b if k == 'text')
        assert 'topnav' in html_b and 'topnav' not in html_a
        assert html_a != html_b


@pytest.mark.spark
class TestIVF:
    def test_ivf_topk_on_planted_clusters(self, spark):
        import pyspark.sql.functions as F2
        from dragnet_spark.operators.similarity import (
            cosine_topk, ivf_topk, with_planted_clusters)
        emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
        clustered = with_planted_clusters(emb, n_clusters=5).cache()
        q = clustered.where(F2.col('vec_id') < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(clustered, q, k=5).collect()}
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(clustered, q, k=5, n_cells=16,
                                    n_probe=3).collect()}
        assert len(exact & approx) / len(exact) >= 0.9

    def test_ivf_sq8_composed_on_planted_clusters(self, spark):
        # the composed design: IVF cells (sub-linear) + SQ8 int8 inner
        # scan + exact re-rank of the top 10% in-cell candidates must
        # hold recall vs brute force
        import pyspark.sql.functions as F2
        from dragnet_spark.operators.similarity import (
            cosine_topk, ivf_quantized_topk, with_planted_clusters)
        emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
        clustered = with_planted_clusters(emb, n_clusters=5).cache()
        q = clustered.where(F2.col('vec_id') < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(clustered, q, k=5).collect()}
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_quantized_topk(clustered, q, k=5,
                                              n_cells=16,
                                              n_probe=3).collect()}
        assert len(exact & approx) / len(exact) >= 0.9

    @pytest.mark.parametrize('path, kwargs', [
        ('ivf_topk', {'n_cells': 4, 'n_probe': 4}),
        ('ivf_quantized_topk', {'n_cells': 4, 'n_probe': 4,
                                'rerank_frac': 1.0}),
        ('quantized_topk', {'rerank_frac': 1.0}),
    ])
    def test_full_probe_equals_exact(self, spark, path, kwargs):
        # every cell probed and every candidate re-ranked: each
        # approximate path ends in the same exact cosine re-rank as the
        # brute-force baseline, so the rank lists match row for row
        import pyspark.sql.functions as F2
        from dragnet_spark.operators import similarity
        emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
        clustered = similarity.with_planted_clusters(emb, n_clusters=5) \
            .cache()
        q = clustered.where(F2.col('vec_id') < 10)
        exact = sorted(similarity.cosine_topk(clustered, q, k=5).collect())
        approx = sorted(getattr(similarity, path)(clustered, q, k=5,
                                                  **kwargs).collect())
        clustered.unpersist()
        assert len(exact) == 50
        assert approx == exact

    def test_planted_clusters_deterministic(self, spark):
        from dragnet_spark.operators.similarity import with_planted_clusters
        emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
        a = sorted(with_planted_clusters(emb)
                   .selectExpr('vec_id', 'round(embedding[0], 9) e').collect())
        b = sorted(with_planted_clusters(emb.repartition(7))
                   .selectExpr('vec_id', 'round(embedding[0], 9) e').collect())
        assert a == b


@pytest.mark.spark
class TestSimilarityPlans:
    """Physical-plan assertions: the big side never shuffles."""

    @pytest.fixture(scope='class')
    def emb500(self, spark):
        return spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')

    def test_quantized_topk_big_side_never_shuffles(self, spark, emb500):
        from dragnet_spark.operators.similarity import quantized_topk
        q = emb500.where(F.col('vec_id') < 3)
        plan = (quantized_topk(emb500, q, k=3)._jdf.queryExecution()
                .executedPlan().toString())
        # exchanges allowed: the tiny candidate window (hash on query_id)
        # + broadcasts; never a hash/range exchange of the corpus scan
        for line in plan.splitlines():
            if 'Exchange hashpartitioning' in line:
                assert 'query_id' in line, line
        assert 'BroadcastExchange' in plan  # re-rank sides broadcast

    def test_bucket_pairs_single_upstream_pass(self, spark):
        # the small/big branch + union shape recomputed the upstream
        # signature pipeline once per branch (minhash 7.5s -> 57s in a
        # recorded run); the single-pass plan has exactly one aggregate
        # over the bucket key
        from dragnet_spark.operators.similarity import bucket_candidate_pairs
        keyed = spark.createDataFrame(
            [(i, i % 5) for i in range(50)], 'vec_id long, bucket long')
        plan = (bucket_candidate_pairs(keyed, 'vec_id', 'a', 'b')
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count('Union') == 0, plan
        assert plan.lower().count('sort_array(collect_set') <= 2, plan


@pytest.mark.spark
class TestIvfScanPrePrune:
    """VERDICT r03 #2: the IVF x SQ8 scan must emit only a per-batch
    top-C superset into the window shuffle, like quantized_topk."""

    def test_scan_output_bounded_and_recall_held(self, spark):
        import math
        import pyspark.sql.functions as F2
        from dragnet_spark.operators.similarity import (
            _ivf_sq8_scan, cosine_topk, ivf_quantized_topk,
            with_planted_clusters)
        emb = spark.read.parquet(
            '/root/testdata/sf0.001/embeddings.parquet')
        clustered = with_planted_clusters(emb, n_clusters=5) \
            .repartition(4).cache()
        q = clustered.where(F2.col('vec_id') < 10)
        # white-box: the scan stage must emit <= cap_max rows per
        # (Arrow chunk, query).  Chunks = the members-join output
        # batches (<= shuffle partitions here), so per query the scan
        # emits <= n_batches * cap_max rows -- far below the in-cell
        # membership (5 planted clusters of 100, 3 probes: >= ~100
        # members/query), which is what the r03 scan shuffled.
        # rerank_frac=0.02 makes the budget visibly smaller than the
        # membership at this 500-row scale.
        approx, caps_df = _ivf_sq8_scan(
            clustered, q, 5, 'embedding', 'vec_id', 16, 3, 42, 20000, 0.02)
        n_batches = int(spark.conf.get('spark.sql.shuffle.partitions'))
        caps = {r.query_id: r._cap for r in caps_df.collect()}
        cap_max = max(caps.values())
        assert cap_max <= math.ceil(0.02 * 500) + 5, caps
        per_q = {r.query_id: r.n for r in
                 approx.groupBy('query_id')
                 .agg(F2.count('*').alias('n')).collect()}
        for qid, n in per_q.items():
            assert n <= n_batches * cap_max, (qid, n, cap_max)
        # black-box: recall vs brute force unchanged
        out = ivf_quantized_topk(clustered, q, k=5, n_cells=16, n_probe=3,
                                 rerank_frac=0.1)
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(clustered, q, k=5).collect()}
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        assert len(exact & got) / len(exact) >= 0.9
        plan = out._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if 'Exchange hashpartitioning' in line:
                assert 'query_id' in line, line


@pytest.mark.spark
class TestGopherQuality:
    def test_rules_on_edge_documents(self, spark):
        from dragnet_spark.operators.text_analysis import (
            GOPHER_MIN_WORDS, gopher_quality_flags)
        good = ('the quick brown fox jumps over that lazy dog and runs '
                'away with great speed to be seen of all ') * 5
        rows = [
            ('good', good),                       # passes every rule
            ('short', 'the cat and that dog'),    # < 50 words
            ('symbols', ('#tag ' * 30) + ('the of and that be with ok '
                                          * 10)),  # symbol ratio > 0.1
            ('numeric', ' '.join(str(i) for i in range(80))
             + ' the of'),                        # alpha frac < 0.8
            ('nostops', 'lorem ipsum dolor sit amet ' * 20),  # no stops
            ('empty', ''),
        ]
        df = spark.createDataFrame(rows, 'doc_id string, text string')
        got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
        assert got['good'].passes == 1, got['good']
        assert got['short'].passes == 0
        assert got['short'].n_words < GOPHER_MIN_WORDS
        assert got['symbols'].passes == 0
        assert got['symbols'].symbol_ratio > 0.1
        assert got['numeric'].passes == 0
        assert got['numeric'].alpha_word_frac < 0.8
        assert got['nostops'].passes == 0
        assert got['nostops'].stopword_hits == 0
        assert got['empty'].n_words == 0 and got['empty'].passes == 0

    def test_single_projection_no_shuffle(self, spark):
        from dragnet_spark.operators.text_analysis import (
            gopher_quality_flags)
        df = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        plan = (gopher_quality_flags(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert 'Exchange' not in plan


@pytest.mark.spark
class TestDuplicateClusters:
    def test_assignment_table_with_planted_copies(self, spark):
        from dragnet_spark.operators.dedup import (
            duplicate_cluster_assignments)
        base = [(i, 'document number %d with enough distinct words to '
                    'shingle cleanly across the minhash bands %d' % (i, i))
                for i in range(1, 21)]
        rows = base + [(i + 1000, t) for i, t in base]  # exact copies
        docs = spark.createDataFrame(rows, 'doc_id long, text string')
        out = duplicate_cluster_assignments(docs, threshold=0.9)
        got = out.collect()
        assert len(got) == 40
        by_doc = {r.doc_id: r for r in got}
        for i in range(1, 21):
            # copy clusters with its original; the original is canonical
            assert by_doc[i].cluster_id == i
            assert by_doc[i + 1000].cluster_id == i
            assert by_doc[i].is_canonical == 1
            assert by_doc[i + 1000].is_canonical == 0
        kept = [r.doc_id for r in got if r.is_canonical == 1]
        assert sorted(kept) == list(range(1, 21))
        assert all(r.converged for r in got)  # converged run


@pytest.mark.spark
class TestDuplicatedPassages:
    def test_counts_and_min_docs_filter(self, spark):
        from dragnet_spark.operators.dedup import duplicated_passages
        shared = 'one two three four five'
        rows = [(1, shared + ' unique tail alpha'),
                (2, shared + ' unique tail beta'),
                (3, shared + ' ' + shared),     # repeats within one doc
                (4, 'totally different words here again'),
                (5, 'shorty')]                  # < n tokens: no grams
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        out = {r.passage: r for r in
               duplicated_passages(df, n=5, keep_example=True).collect()}
        assert shared in out
        r = out[shared]
        assert r.n_docs == 3
        # doc3 contains the 5-gram at offsets 0 and 5 -> 4 occurrences
        assert r.n_occurrences == 4
        assert r.first_doc_id == 1
        # passages private to one doc are filtered by min_docs
        assert all(v.n_docs >= 2 for v in out.values())

    def test_projection_explode_groupby_shape(self, spark):
        from dragnet_spark.operators.dedup import duplicated_passages
        df = spark.read.parquet('/root/testdata/sf0.001/documents.parquet')
        plan = (duplicated_passages(df)._jdf.queryExecution()
                .executedPlan().toString())
        # one sig-keyed exchange; the tokenize+gram+md5 projection is a
        # single Arrow python stage (r06: off the JVM regex engine --
        # see text_analysis._counts_stage), not a row-at-a-time UDF
        assert plan.count('Exchange hashpartitioning') <= 2  # partial+final
        assert plan.count('MapInArrow') == 1, plan
        assert 'BatchEvalPython' not in plan and 'ArrowEvalPython' not in plan


@pytest.mark.spark
class TestGopherRepetition:
    def test_spam_vs_clean(self, spark):
        from dragnet_spark.operators.text_analysis import (
            gopher_repetition_flags_rowwise)
        spam = 'buy now ' * 50                      # one 2-gram is the doc
        dup10 = ('alpha beta gamma delta epsilon zeta eta theta iota '
                 'kappa ') * 3 + 'unique closing words here'
        clean = ' '.join('word%d' % i for i in range(60))
        df = spark.createDataFrame(
            [(1, spam), (2, dup10), (3, clean), (4, '')],
            'doc_id long, text string')
        got = {r.doc_id: r for r in
               gopher_repetition_flags_rowwise(df).collect()}
        assert got[1].top_2gram_char_frac > 0.5
        assert got[1].passes_repetition == 0
        assert got[2].dup_10gram_char_frac > 0.1
        assert got[2].passes_repetition == 0
        assert got[3].top_2gram_char_frac < 0.2
        assert got[3].dup_10gram_char_frac == 0.0
        assert got[3].passes_repetition == 1
        assert got[4].passes_repetition == 1  # empty: nothing repeated


@pytest.mark.spark
class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """The co-located-join claim, plan-asserted: bucketed tables
        joined on the bucket key read bucket-aligned with ZERO Exchange
        on either side; the same join on plain tables shuffles both."""
        from dragnet_spark.plans.bucketing import (bucketed_equi_join,
                                                   write_bucketed)
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
        try:
            docs = spark.read.parquet(
                '/root/testdata/sf0.001/documents.parquet')
            emb = (spark.read.parquet(
                '/root/testdata/sf0.001/embeddings.parquet')
                .withColumnRenamed('vec_id', 'doc_id'))
            write_bucketed(docs, 'b_docs', num_buckets=8)
            write_bucketed(emb, 'b_emb', num_buckets=8)
            joined = bucketed_equi_join(spark, 'b_docs', 'b_emb')
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert 'Exchange' not in plan, plan
            assert 'SelectedBucketsCount' in plan or 'Bucketed: true' \
                in plan, plan
            n = joined.count()
            plain = docs.join(emb, 'doc_id')
            plain_plan = (plain._jdf.queryExecution().executedPlan()
                          .toString())
            assert 'Exchange' in plain_plan  # the cost bucketing removes
            assert n == plain.count() > 0
        finally:
            spark.conf.set('spark.sql.autoBroadcastJoinThreshold',
                           '10485760')
            spark.sql('DROP TABLE IF EXISTS b_docs')
            spark.sql('DROP TABLE IF EXISTS b_emb')

    def test_bucketed_aggregation_no_exchange(self, spark, tmp_path):
        from dragnet_spark.plans.bucketing import write_bucketed
        import pyspark.sql.functions as F2
        docs = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        try:
            write_bucketed(docs, 'b_docs2', num_buckets=8)
            agg = (spark.table('b_docs2').groupBy('doc_id')
                   .agg(F2.count('*').alias('n')))
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert 'Exchange' not in plan, plan
        finally:
            spark.sql('DROP TABLE IF EXISTS b_docs2')


@pytest.mark.spark
class TestTrainingCorpusFunnel:
    def test_funnel_monotone_and_dedup_effective(self, spark):
        import importlib
        e = importlib.import_module('__spark_entry__')
        row = e.queries()['training_corpus_funnel'](
            spark, '/root/testdata/sf0.001').collect()[0]
        assert row.n_extracted_ok >= row.n_quality_pass > 0
        assert row.n_quality_pass >= row.n_canonical > 0
        # amplification=2 renders each article under two chrome skins:
        # dedup must collapse a large share of the quality survivors
        assert row.n_canonical <= 0.75 * row.n_quality_pass, row


@pytest.mark.spark
class TestJsonProps:
    def test_missing_and_corrupt_counted_not_dropped(self, spark):
        from dragnet_spark.operators.semistructured import json_props_stats
        rows = [(1, 'a', '{"k": 5}'), (2, 'a', '{"k": 7}'),
                (3, 'a', '{"x": 1}'),        # field missing
                (4, 'b', 'not json at all'),  # corrupt
                (5, 'b', None)]               # null payload
        df = spark.createDataFrame(
            rows, 'event_id long, event_type string, props string')
        got = {r.group_key: r for r in json_props_stats(df).collect()}
        assert got['a'].n_events == 3 and got['a'].n_missing == 1
        assert got['a'].sum_k == 12 and got['a'].min_k == 5
        assert got['b'].n_events == 2 and got['b'].n_missing == 2
        assert got['b'].sum_k is None

    def test_no_python_stage(self, spark):
        from dragnet_spark.operators.semistructured import json_props_stats
        df = spark.read.parquet('/root/testdata/sf0.001/events.parquet')
        plan = (json_props_stats(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert 'Python' not in plan and 'ArrowEval' not in plan


@pytest.mark.spark
class TestDeterministicSampling:
    def test_partitioning_invariant_membership(self, spark):
        from dragnet_spark.operators.text_analysis import (
            deterministic_sample)
        df = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        a = {r.doc_id for r in
             deterministic_sample(df, 0.2).select('doc_id').collect()}
        b = {r.doc_id for r in
             deterministic_sample(df.repartition(13), 0.2)
             .select('doc_id').collect()}
        assert a == b and 0.1 < len(a) / df.count() < 0.3

    def test_nested_samples_and_strata(self, spark):
        from dragnet_spark.operators.text_analysis import (
            deterministic_sample, stratified_sample)
        df = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        # md5-prefix thresholds nest: the 10% sample is a subset of 30%
        s10 = {r.doc_id for r in
               deterministic_sample(df, 0.1).select('doc_id').collect()}
        s30 = {r.doc_id for r in
               deterministic_sample(df, 0.3).select('doc_id').collect()}
        assert s10 < s30
        st = stratified_sample(df, {'en': 1.0, 'zh': 0.0})
        langs = {r.lang for r in st.select('lang').distinct().collect()}
        assert langs == {'en'}  # frac 0 drops, absent strata drop
        n_en = df.where("lang = 'en'").count()
        assert st.count() == n_en  # frac 1.0 keeps every row

    def test_no_shuffle(self, spark):
        from dragnet_spark.operators.text_analysis import (
            deterministic_sample)
        df = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        plan = (deterministic_sample(df, 0.1)._jdf.queryExecution()
                .executedPlan().toString())
        assert 'Exchange' not in plan


@pytest.mark.spark
class TestCurateCorpus:
    def test_verdicts_explain_every_drop(self, spark):
        from dragnet_spark.operators.curation import curate_corpus

        def doc(base):
            # 64 distinct words incl. stopwords: passes quality and,
            # having no repeated 10-grams, the repetition gate too
            return ('the story of word%d and that which have with be '
                    % base) + ' '.join(
                'token%03d' % (base * 100 + i) for i in range(54))
        rows = [(1, doc(1)),
                (2, doc(2)),
                (3, doc(1)),               # exact near-dup of doc 1
                (4, 'too short to pass the gate'),
                (5, 'buy now ' * 200)]     # repetition spam
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        curated, verdicts = curate_corpus(df, dedup_threshold=0.9)
        v = {r.doc_id: r for r in verdicts.collect()}
        assert len(v) == 5                       # every input audited
        assert v[4].passes_quality == 0          # dropped: quality
        assert v[5].passes_repetition == 0       # dropped: repetition
        assert v[3].is_canonical == 0            # dropped: near-dup
        assert v[3].cluster_id == 1
        kept = sorted(r.doc_id for r in curated.collect())
        assert kept == [1, 2]
        # verdict 'kept' agrees with the curated semi-join
        assert kept == sorted(d for d, r in v.items() if r.kept == 1)

    def test_curated_preserves_input_columns(self, spark):
        from dragnet_spark.operators.curation import curate_corpus
        text = ('the story of words and that which have with be '
                + ' '.join('token%03d' % i for i in range(54)))
        df = spark.createDataFrame(
            [(1, text, 'extra')],
            'doc_id long, text string, meta string')
        curated, _ = curate_corpus(df)
        assert curated.columns == ['doc_id', 'text', 'meta']
        assert curated.first().meta == 'extra'

    def test_outputs_read_gates_from_checkpoint(self, spark):
        # the gate verdicts are materialized once while curate_corpus
        # builds its frames: neither sink re-runs a gate's python stage
        from dragnet_spark.operators.curation import curate_corpus
        text = ('the story of words and that which have with be '
                + ' '.join('token%03d' % i for i in range(54)))
        df = spark.createDataFrame([(1, text), (2, 'too short')],
                                   'doc_id long, text string')
        curated, verdicts = curate_corpus(df)
        for out in (curated, verdicts):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert 'Python' not in plan and 'Arrow' not in plan, plan
        assert [r.doc_id for r in curated.collect()] == [1]

    def test_one_counts_stage(self, spark, counts_stage_calls):
        from dragnet_spark.operators.curation import curate_corpus
        curated, verdicts = curate_corpus(
            spark.createDataFrame(planted_corpus(),
                                  'doc_id long, text string'),
            dedup_threshold=0.7)
        curated.collect()
        verdicts.collect()
        assert len(counts_stage_calls) == 1

    def test_equals_gates_then_cluster_assignments(self, spark):
        # the composition the one-stage form replaced: the gates, the
        # survivors' texts re-read, then MinHash clusters of those texts
        from dragnet_spark.operators.curation import curate_corpus
        from dragnet_spark.operators.dedup import (
            duplicate_cluster_assignments)
        from dragnet_spark.operators.text_analysis import gopher_gates
        df = spark.createDataFrame(planted_corpus(),
                                   'doc_id long, text string')
        curated, verdicts = curate_corpus(df, dedup_threshold=0.7)

        gates = (gopher_gates(df)
                 .select('doc_id', 'passes_quality', 'passes_repetition'))
        passing = gates.where((F.col('passes_quality') == 1)
                              & (F.col('passes_repetition') == 1))
        survivors = df.join(passing, 'doc_id', 'left_semi')
        assigned = duplicate_cluster_assignments(survivors, threshold=0.7)
        want_v = (gates.join(assigned, 'doc_id', 'left')
                  .withColumn('kept',
                              (F.coalesce('is_canonical', F.lit(0)) == 1)
                              .cast('long')))
        want_c = df.join(want_v.where(F.col('kept') == 1).select('doc_id'),
                         'doc_id', 'left_semi')
        assert verdicts.columns == want_v.columns
        assert sorted(verdicts.collect()) == sorted(want_v.collect())
        assert sorted(curated.collect()) == sorted(want_c.collect())
        v = verdicts.collect()
        # the planted families collapse to their minimum id; the null
        # row fails quality, and every row of a doc_id is audited
        assert {r.doc_id for r in v if r.kept == 1} == {1, 4, 7, 8, 30}
        assert [r.passes_quality for r in v if r.doc_id == 20] == [0]
        assert len([r for r in v if r.doc_id == 30]) == 2


def planted_doc(base, swap=None):
    """64 distinct words incl. stopwords (passes both gates); ``swap``
    replaces one token, a near copy above shingle Jaccard 0.7."""
    toks = ['token%03d' % (base * 100 + i) for i in range(54)]
    if swap is not None:
        toks[swap] = 'swapped%d' % swap
    return ('the story of word%d and that which have with be '
            % base) + ' '.join(toks)


def planted_corpus():
    """Near-dup families {1, 2, 3, 31 twice} and {4, 5, 6}, singletons,
    gate failures, a null text and a doc_id (30) ingested twice."""
    return [(1, planted_doc(1)), (2, planted_doc(1, swap=10)),
            (3, planted_doc(1)), (31, planted_doc(1, swap=40)),
            (31, planted_doc(1, swap=40)),
            (4, planted_doc(2)), (5, planted_doc(2, swap=5)),
            (6, planted_doc(2, swap=30)),
            (7, planted_doc(3)), (8, planted_doc(4)),
            (30, planted_doc(5)), (30, planted_doc(5)),
            (10, 'too short to pass the gate'),
            (11, 'buy now ' * 200),
            (12, planted_doc(1) + ' buy now' * 100),
            (20, None)]


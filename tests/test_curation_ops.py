"""Round-5 pipeline additions: benchmark decontamination, PII
scrubbing, curation gate funnel, and the applyInPandasWithState
stateful streaming operator."""

import pytest

import pyspark.sql.functions as F


@pytest.mark.spark
class TestDecontamination:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, 'doc_id long, text string')

    def test_exact_benchmark_doc_flagged_and_clean_doc_not(self, spark):
        from dragnet_spark.operators.decontamination import decontaminate
        bench_text = ' '.join('tok%d' % i for i in range(20))
        clean_text = ' '.join('other%d' % i for i in range(20))
        docs = self._docs(spark, [(1, bench_text), (2, clean_text)])
        bench = self._docs(spark, [(100, bench_text)])
        out = {r.doc_id: r for r in decontaminate(docs, bench).collect()}
        assert out[1].contaminated == 1
        # 20 tokens -> 8 distinct 13-grams, all hit
        assert out[1].n_overlap_grams == 8
        assert out[2].contaminated == 0
        assert out[2].n_overlap_grams == 0

    def test_partial_overlap_needs_full_ngram(self, spark):
        from dragnet_spark.operators.decontamination import decontaminate
        bench_text = ' '.join('tok%d' % i for i in range(13))
        # 12-token shared prefix + divergence: no full 13-gram collision
        near = ' '.join('tok%d' % i for i in range(12)) + ' DIFFERENT'
        docs = self._docs(spark, [(1, near)])
        bench = self._docs(spark, [(100, bench_text)])
        row = decontaminate(docs, bench).collect()[0]
        assert row.contaminated == 0

    def test_short_docs_report_zeros(self, spark):
        from dragnet_spark.operators.decontamination import decontaminate
        docs = self._docs(spark, [(1, 'only five tokens right here')])
        bench = self._docs(spark, [(100, 'only five tokens right here')])
        row = decontaminate(docs, bench).collect()[0]
        assert (row.n_overlap_grams, row.contaminated) == (0, 0)

    def test_benchmark_side_broadcasts(self, spark, sf_dir):
        # the benchmark gram set must reach executors as a broadcast
        # (map-side join) -- a shuffle join here would move the corpus
        from dragnet_spark.operators.decontamination import decontaminate
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        out = decontaminate(docs, docs.where(F.col('doc_id') % 25 == 3))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert 'BroadcastHashJoin' in plan

    def test_occurrences_count_every_position(self, spark):
        from dragnet_spark.operators.decontamination import decontaminate
        gram = ' '.join('tok%d' % i for i in range(13))
        docs = self._docs(spark, [(1, gram + ' ' + gram)])
        bench = self._docs(spark, [(100, gram)])
        row = decontaminate(docs, bench).collect()[0]
        # the doubled doc contains the benchmark gram at positions 0 and
        # 13 (interior grams mixing both copies don't exist in the
        # benchmark set)
        assert row.n_overlap_grams == 1
        assert row.n_overlap_occurrences == 2


@pytest.mark.spark
class TestPiiScrub:
    def test_each_rule_and_total(self, spark):
        from dragnet_spark.operators.pii import scrub_pii
        df = spark.createDataFrame(
            [(1, 'mail a.b-c_d@ex-ample.co.uk and 192.168.0.1 '
                 'then +44 20 7946 0958 bye')],
            'doc_id long, text string')
        row = scrub_pii(df).collect()[0]
        assert (row.n_email, row.n_ipv4, row.n_phone) == (1, 1, 1)
        assert row.n_pii == 3
        assert row.scrubbed_text == ('mail <EMAIL> and <IP> '
                                     'then <PHONE> bye')

    def test_sequential_rules_do_not_double_count(self, spark):
        from dragnet_spark.operators.pii import scrub_pii
        # the email's digit run must not ALSO count as a phone number
        # after the email rule consumed it: '+1 555-0100@example.com'
        # yields email='555-0100@example.com', and the leftover '+1 '
        # no longer completes the phone pattern
        df = spark.createDataFrame(
            [(1, 'call +1 555-0100@example.com now')],
            'doc_id long, text string')
        row = scrub_pii(df).collect()[0]
        assert row.n_email == 1
        assert row.n_ipv4 == 0 and row.n_phone == 0
        assert row.scrubbed_text == 'call +1 <EMAIL> now'

    def test_clean_text_untouched(self, spark):
        from dragnet_spark.operators.pii import scrub_pii
        txt = 'nothing sensitive here v1.2 at 5pm'
        df = spark.createDataFrame([(1, txt)], 'doc_id long, text string')
        row = scrub_pii(df).collect()[0]
        assert row.scrubbed_text == txt and row.n_pii == 0

    def test_short_plus_fragments_not_redacted(self, spark):
        # review r05: the old optional-tail phone pattern matched '+N
        # sep N' fragments (temperatures, scores, diff hunks) and
        # silently corrupted ordinary text
        from dragnet_spark.operators.pii import scrub_pii
        txt = 'meet at +1 5 pm, it was +3 4 degrees, hunk +10 2 applied'
        df = spark.createDataFrame([(1, txt)], 'doc_id long, text string')
        row = scrub_pii(df).collect()[0]
        assert row.scrubbed_text == txt and row.n_phone == 0


@pytest.mark.spark
class TestTextProfile:
    def test_fused_profile_equals_joined_operators(self, spark, sf_dir):
        from dragnet_spark.operators.text_analysis import (
            fingerprints, language_id, quality_scores, text_profile,
            token_counts)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet')
        fused = text_profile(docs)
        joined = (token_counts(docs)
                  .join(quality_scores(docs)
                        .withColumnRenamed('n_tokens', 'n_tokens_lower')
                        .drop('n_chars_text'), 'doc_id')
                  .join(language_id(docs), 'doc_id')
                  .join(fingerprints(docs), 'doc_id'))
        assert sorted(fused.columns) == sorted(joined.columns)
        cols = sorted(fused.columns)
        a = sorted(map(tuple, fused.select(*cols).collect()))
        b = sorted(map(tuple, joined.select(*cols).collect()))
        assert a == b
        # and it must plan with ZERO shuffles (the point of fusing)
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange' not in plan


@pytest.mark.spark
class TestChunkDocuments:
    def test_window_arithmetic_and_short_tail(self, spark):
        from dragnet_spark.operators.chunking import chunk_documents
        text = ' '.join('t%d' % i for i in range(300))
        df = spark.createDataFrame([(1, text)], 'doc_id long, text string')
        rows = sorted(chunk_documents(df, keep_text=True).collect(),
                      key=lambda r: r.chunk_idx)
        # ceil(300/96) = 4 windows: 128, 128, 108, 12 tokens
        assert [r.n_chunk_tokens for r in rows] == [128, 128, 108, 12]
        assert rows[1].chunk_text.split()[0] == 't96'   # start = stride
        assert rows[3].chunk_text.split()[-1] == 't299'  # tail kept

    def test_every_token_covered(self, spark):
        from dragnet_spark.operators.chunking import chunk_documents
        text = ' '.join('t%d' % i for i in range(257))
        df = spark.createDataFrame([(1, text)], 'doc_id long, text string')
        rows = chunk_documents(df, keep_text=True).collect()
        covered = set()
        for r in rows:
            covered.update(r.chunk_text.split())
        assert covered == {'t%d' % i for i in range(257)}

    def test_partition_mode_and_empty_doc(self, spark):
        from dragnet_spark.operators.chunking import chunk_documents
        df = spark.createDataFrame(
            [(1, ' '.join('t%d' % i for i in range(10))), (2, ' ...')],
            'doc_id long, text string')
        rows = chunk_documents(df, chunk_tokens=4, stride=4,
                               keep_text=True).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r.n_chunk_tokens)
        assert sorted(by_doc[1]) == [2, 4, 4]  # non-overlapping partition
        assert 2 not in by_doc                 # token-less doc: no rows

    def test_boundary_length_sweep(self, spark):
        # every token-count edge around the window/stride boundaries,
        # one Spark pass: n_chunks == ceil(n/stride), starts at
        # multiples of stride, total coverage == n, last chunk short
        from dragnet_spark.operators.chunking import chunk_documents
        lengths = (list(range(0, 8)) + [95, 96, 97, 127, 128, 129,
                                        191, 192, 193, 223, 224, 225,
                                        287, 288, 289])
        rows = [(n, ' '.join('t%d' % i for i in range(n)))
                for n in lengths]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        out = chunk_documents(df, chunk_tokens=128, stride=96,
                              keep_text=True).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        for n in lengths:
            chunks = sorted(by_doc.get(n, []),
                            key=lambda r: r.chunk_idx)
            expect = 0 if n == 0 else -(-n // 96)
            assert len(chunks) == expect, (n, len(chunks))
            covered = set()
            for i, c in enumerate(chunks):
                toks = c.chunk_text.split()
                assert toks[0] == 't%d' % (i * 96)
                assert c.n_chunk_tokens == min(128, n - i * 96)
                covered.update(toks)
            if n:
                assert covered == {'t%d' % i for i in range(n)}

    def test_invalid_stride_raises(self, spark):
        from dragnet_spark.operators.chunking import chunk_documents
        df = spark.createDataFrame([(1, 'x')], 'doc_id long, text string')
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=5)
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=0)


@pytest.mark.spark
class TestGateFunnel:
    def test_counts_match_flag_tables(self, spark, sf_dir):
        from dragnet_spark.operators.curation import gate_funnel
        from dragnet_spark.operators.text_analysis import (
            gopher_quality_flags, gopher_repetition_flags_rowwise)
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        row = gate_funnel(docs, max_dup10=0.6).collect()[0]
        q = gopher_quality_flags(docs).agg(
            F.sum('passes')).collect()[0][0]
        r = gopher_repetition_flags_rowwise(docs, max_dup10=0.6).agg(
            F.sum('passes_repetition')).collect()[0][0]
        assert row.n_total == docs.count()
        assert row.n_quality_pass == q
        assert row.n_repetition_pass == r
        assert row.n_both_pass <= min(q, r)

    def test_one_gate_stage_and_no_join(self, spark, sf_dir):
        from dragnet_spark.operators.curation import gate_funnel
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        plan = (gate_funnel(docs)._jdf.queryExecution().executedPlan()
                .toString())
        assert plan.count('MapInArrow') == 1, plan
        assert 'Join' not in plan, plan

    def test_null_text_row(self, spark):
        # a null text counts toward n_total and the repetition gate
        # (nothing repeated), while its quality verdict stays null
        from dragnet_spark.operators.curation import gate_funnel
        from dragnet_spark.operators.text_analysis import (
            gopher_quality_flags, gopher_repetition_flags_rowwise)
        df = spark.createDataFrame([(1, None)], 'doc_id long, text string')
        q = gopher_quality_flags(df).collect()[0].asDict()
        assert q == {'doc_id': 1, 'n_words': None, 'mean_word_len': None,
                     'symbol_ratio': None, 'alpha_word_frac': None,
                     'stopword_hits': None, 'passes': None}
        r = gopher_repetition_flags_rowwise(df).collect()[0].asDict()
        assert r == {'doc_id': 1, 'top_2gram_char_frac': 0.0,
                     'dup_10gram_char_frac': 0.0, 'passes_repetition': 1}
        f = gate_funnel(df).collect()[0].asDict()
        assert f == {'n_total': 1, 'n_quality_pass': None,
                     'n_repetition_pass': 1, 'n_both_pass': None}


class TestZipSafeArrowStages:
    def test_counts_stage_runs_from_zip_shipped_package(self, tmp_path):
        # spark-submit --py-files ships dragnet_spark as a ZIP; the r06
        # Arrow counts stages pickle closures whose globals resolve by
        # re-importing the module on the WORKER -- this pins that the
        # zip-import path works end to end (the r05 model-loading bug
        # was this class of failure)
        import os
        import shutil
        import subprocess
        import sys
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zp = shutil.make_archive(str(tmp_path / 'pkg'), 'zip',
                                 root_dir=repo, base_dir='dragnet_spark')
        code = '''
import sys
sys.path.insert(0, "ZIPPATH")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[2]').appName('zip-arrow-smoke')
         .config('spark.ui.enabled', 'false').getOrCreate())
spark.sparkContext.addPyFile("ZIPPATH")
from dragnet_spark.operators.text_analysis import text_profile
docs = spark.read.parquet(
    '/root/testdata/sf0.001/documents.parquet').select('doc_id', 'text')
print('ROWS', text_profile(docs).count())
spark.stop()
'''.replace('ZIPPATH', zp)
        env = {**os.environ, 'PYTHONPATH': ''}
        out = subprocess.run([sys.executable, '-c', code],
                             capture_output=True, text=True, timeout=240,
                             env=env)
        assert out.returncode == 0, out.stderr[-1000:]
        assert 'ROWS 500' in out.stdout, out.stdout[-500:]


class TestZipSafeModelLoading:
    def test_default_model_loads_from_inside_a_zip(self, tmp_path):
        # spark-submit --py-files ships the package as a ZIP, where
        # os.path.exists on the joined models path is False; the silent
        # fallback to the reference-oracle coefficients collapsed
        # extraction quality on real clusters (r05 submit smoke: every
        # content_text empty with status ok)
        import json
        import os
        import shutil
        import subprocess
        import sys
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_base = str(tmp_path / 'pkg')
        shutil.make_archive(zip_base, 'zip', root_dir=repo,
                            base_dir='dragnet_spark')
        code = (
            "import sys\n"
            "sys.path.insert(0, %r)\n"
            "from dragnet_spark.model import default_model\n"
            "import json\n"
            "m = default_model()\n"
            "print(json.dumps(list(m.coef)))\n" % (zip_base + '.zip'))
        out = subprocess.run([sys.executable, '-c', code],
                             capture_output=True, text=True, timeout=60)
        assert out.returncode == 0, out.stderr[-500:]
        coef_zip = json.loads(out.stdout.strip().splitlines()[-1])
        shipped = json.load(open(os.path.join(
            repo, 'dragnet_spark', 'models', 'content_lr.json')))
        assert coef_zip == shipped['coef']


@pytest.mark.spark
class TestRowwiseRepetitionGate:
    def test_bit_identical_to_duckdb_oracle(self, spark, sf_dir):
        # the spec is pinned by the DuckDB oracle: the corpus plus
        # crafted empty / short / spam / cyclic / sub-10-gram rows
        import duckdb

        from __spark_entry__ import _gopher_repetition_oracle
        from dragnet_spark.operators.text_analysis import (
            gopher_repetition_flags_rowwise)
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        extra_rows = [
            (9001, ''), (9002, 'one two'),
            (9003, ' '.join(['spam phrase repeat now'] * 60)),
            (9004, ' '.join('w%d' % (i % 15) for i in range(200))),
            (9005, ' '.join('u%d' % i for i in range(9))), (9006, None)]
        extra = spark.createDataFrame(extra_rows, 'doc_id long, text string')
        all_docs = docs.unionByName(extra)
        key = lambda r: (r.doc_id, r.top_2gram_char_frac,  # noqa: E731
                         r.dup_10gram_char_frac, r.passes_repetition)
        got = sorted(map(key,
                         gopher_repetition_flags_rowwise(all_docs)
                         .collect()))
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT doc_id, text "
                    "FROM read_parquet('%s/documents.parquet')" % sf_dir)
        con.executemany('INSERT INTO documents VALUES (?, ?)', extra_rows)
        want = sorted(tuple(r) for r in
                      con.execute(_gopher_repetition_oracle()).fetchall())
        assert got == want

    def test_rowwise_is_shuffle_free(self, spark, sf_dir):
        from dragnet_spark.operators.text_analysis import (
            gopher_repetition_flags_rowwise)
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        plan = (gopher_repetition_flags_rowwise(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert 'Exchange' not in plan

    def test_lowering_matches_jvm_on_non_ascii(self, spark):
        # the counts stage lowers with python str.lower(); its lowered
        # token count and the repetition gate's token chars must equal
        # the JVM lower() + split over the same rows
        from dragnet_spark.operators.text_analysis import (_counts_stage,
                                                           tokens_col)
        rows = [(1, 'İstanbul İİ DİKKAT İx'),
                (2, 'Kelvin \u212a \u212aB 5\u212a'),
                (3, 'straße STRASSE ß ẞ'), (4, 'ΣΑΣ ΟΔΟΣ σας ΣaΣ'),
                (5, 'ﬁle ﬁne ﬂ'), (6, '１２３ ４５６ 12３ ＡＢ')]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        toks = tokens_col(F.col('text'), lower=True)
        jvm = {r.doc_id: (r.n, r.chars) for r in df.select(
            'doc_id', F.size(toks).alias('n'),
            F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
            .alias('chars')).collect()}
        py = {r.doc_id: (r._n_tokens_lower, r._tok_chars) for r in
              _counts_stage(df, lower=True, rep=True).collect()}
        assert py == jvm
        assert jvm[2] == (4, 11)  # the Kelvin sign lowers to ASCII 'k'


@pytest.mark.spark
class TestGopherGates:
    def test_equals_both_gates_in_one_stage(self, spark, sf_dir):
        from dragnet_spark.operators.text_analysis import (
            gopher_gates, gopher_quality_flags,
            gopher_repetition_flags_rowwise)
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        gates = gopher_gates(docs)
        plan = gates._jdf.queryExecution().executedPlan().toString()
        assert plan.count('MapInArrow') == 1, plan
        assert 'Exchange' not in plan, plan
        got = gopher_gates(docs, max_dup10=0.6, keep_cols=('text',))
        q = gopher_quality_flags(docs, keep_cols=('text',))
        r = gopher_repetition_flags_rowwise(docs, max_dup10=0.6)
        want = (q.withColumnRenamed('passes', 'passes_quality')
                .join(r, 'doc_id'))
        assert got.columns == want.columns
        assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.spark
class TestCurationStream:
    def test_stream_equals_batch_composition(self, spark, sf_dir,
                                             tmp_path):
        import pyspark.sql.functions as FF
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.operators.text_analysis import (
            gopher_quality_flags, gopher_repetition_flags_rowwise)
        from dragnet_spark.sources.synthesis import synthesize_corpus
        from dragnet_spark.streaming.curation_stream import (
            run_curation_stream)
        spans_df, _ = synthesize_corpus(spark, sf_dir,
                                        include_edge_docs=False)
        (spans_df.repartition(3).write.mode('overwrite')
         .parquet(str(tmp_path / 'src')))
        run_curation_stream(spark, str(tmp_path / 'src'),
                            str(tmp_path / 'out'),
                            str(tmp_path / 'chk'), max_dup10=0.6)
        stream_out = spark.read.parquet(str(tmp_path / 'out'))
        kept_stream = stream_out.where(FF.col('is_first_seen'))

        # batch twin: extract -> gates -> one doc per (host, sig)
        ext = (extract(spans_df).where(FF.col('status') == 'ok')
               .select('doc_id',
                       FF.col('content_text').alias('text')))
        q = (gopher_quality_flags(ext, keep_cols=('text',))
             .where(FF.col('passes') == 1).select('doc_id', 'text'))
        r = (gopher_repetition_flags_rowwise(q.select('doc_id', 'text'),
                                             max_dup10=0.6)
             .where(FF.col('passes_repetition') == 1)
             .select('doc_id'))
        gated = q.join(r, 'doc_id')
        from dragnet_spark.plans.partitioning import host_of
        batch_pairs = (gated.select(
            host_of(FF.col('doc_id')).alias('host'),
            FF.md5(FF.col('text')).substr(1, 16).alias('content_sig'))
            .distinct())
        a = {(r2.host, r2.content_sig)
             for r2 in kept_stream.select('host', 'content_sig')
             .collect()}
        b = {(r2.host, r2.content_sig) for r2 in batch_pairs.collect()}
        assert a == b
        # one kept row per (host, sig): dedup actually deduped
        assert kept_stream.count() == len(a)


@pytest.mark.spark
class TestIncrementalDedup:
    def test_batches_dedup_against_growing_store(self, spark, tmp_path):
        from dragnet_spark.operators.dedup import exact_dedup_incremental
        store = str(tmp_path / 'sigstore')
        b1 = spark.createDataFrame(
            [(1, 'alpha text'), (2, 'beta text'), (3, 'alpha text')],
            'doc_id long, text string')
        fresh1, drop_in1, drop_store1 = exact_dedup_incremental(b1, store)
        assert {r.doc_id for r in fresh1.collect()} == {1, 2}
        assert (drop_in1, drop_store1) == (1, 0)
        # batch 2: one within-batch dup, one store dup, one new
        b2 = spark.createDataFrame(
            [(10, 'beta text'), (11, 'gamma text'), (12, 'gamma text')],
            'doc_id long, text string')
        fresh2, drop_in2, drop_store2 = exact_dedup_incremental(b2, store)
        assert {r.doc_id for r in fresh2.collect()} == {11}
        assert (drop_in2, drop_store2) == (1, 1)
        # store holds each surviving signature once per append
        assert spark.read.parquet(store).count() == 3

    def test_minhash_incremental_near_dup_store(self, spark, tmp_path):
        from dragnet_spark.operators.dedup import minhash_dedup_incremental
        store = str(tmp_path / 'mhstore')
        base = ' '.join('word%d' % i for i in range(200))
        near = ' '.join('word%d' % i for i in range(199)) + ' CHANGED'
        other = ' '.join('thing%d' % i for i in range(200))
        b1 = spark.createDataFrame(
            [(1, base), (2, near), (3, other)],
            'doc_id long, text string')
        fresh1, drop_in1, drop_store1 = minhash_dedup_incremental(
            b1, store, threshold=0.8)
        # within batch: the near-dup collapses to its cluster canonical
        assert {r.doc_id for r in fresh1.collect()} == {1, 3}
        assert (drop_in1, drop_store1) == (1, 0)
        # batch 2: a near-dup of STORED doc 1 (text no longer available
        # -- matched by the minhash estimate) and one genuinely new doc
        near2 = ' '.join('word%d' % i for i in range(198)) + ' X Y'
        new = ' '.join('fresh%d' % i for i in range(200))
        b2 = spark.createDataFrame(
            [(10, near2), (11, new)], 'doc_id long, text string')
        fresh2, drop_in2, drop_store2 = minhash_dedup_incremental(
            b2, store, threshold=0.8)
        assert {r.doc_id for r in fresh2.collect()} == {11}
        assert (drop_in2, drop_store2) == (0, 1)
        # store holds signatures only for retained canonicals
        assert ({r.doc_id for r in
                 spark.read.parquet(store).select('doc_id').collect()}
                == {1, 3, 11})

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from dragnet_spark.operators.dedup import exact_dedup_incremental
        store = str(tmp_path / 'sigstore2')
        b = spark.createDataFrame([(1, 'doc one'), (2, 'doc two')],
                                  'doc_id long, text string')
        exact_dedup_incremental(b, store)
        fresh, _, drop_store = exact_dedup_incremental(b, store)
        assert fresh.count() == 0 and drop_store == 2

    def test_corrupted_store_fails_loudly(self, spark, tmp_path):
        # VERDICT r05 "What's wrong #1": a store-read failure other than
        # path-absent must RAISE, not masquerade as "first batch" and
        # silently skip dedup-vs-store + re-seed the store.
        from dragnet_spark.operators.dedup import exact_dedup_incremental
        store = str(tmp_path / 'sigstore3')
        b = spark.createDataFrame([(1, 'doc one')],
                                  'doc_id long, text string')
        exact_dedup_incremental(b, store)  # seed a real store
        # corrupt every parquet footer in place
        import pathlib
        for p in pathlib.Path(store).glob('*.parquet'):
            p.write_bytes(b'not a parquet file')
        with pytest.raises(Exception) as ei:
            fresh, _, _ = exact_dedup_incremental(b, store)
            fresh.count()
        assert 'PATH_NOT_FOUND' not in str(ei.value)

    def test_missing_store_is_still_first_batch(self, spark, tmp_path):
        from dragnet_spark.operators.dedup import _read_store
        assert _read_store(spark, str(tmp_path / 'nope'),
                           ['content_sig']) is None


@pytest.mark.spark
class TestQualityModel:
    @pytest.fixture(scope='class')
    def scored(self, spark, sf_dir):
        from dragnet_spark.operators.quality_model import (
            score_quality, train_quality_classifier)
        docs = (spark.read.parquet(f'{sf_dir}/documents.parquet')
                .select('doc_id', 'text'))
        model = train_quality_classifier(docs)
        return docs, score_quality(docs, model).cache()

    def test_score_ranks_gate_labels(self, spark, sf_dir, scored):
        # the smooth score must rank the weak labels it distilled
        # (the Gopher word-count sub-rule): AUC >= 0.9 on the corpus
        from dragnet_spark.operators.text_analysis import (
            gopher_quality_flags)
        docs, sc = scored
        flags = gopher_quality_flags(docs).select(
            'doc_id',
            ((F.col('n_words') >= 50) & (F.col('n_words') <= 100_000))
            .cast('long').alias('passes'))
        labeled = sc.join(flags, 'doc_id')
        pos = [r.quality_score for r in labeled
               .where(F.col('passes') == 1).collect()]
        neg = [r.quality_score for r in labeled
               .where(F.col('passes') == 0).collect()]
        assert pos and neg
        wins = sum(p > n for p in pos for n in neg)
        auc = wins / (len(pos) * len(neg))
        assert auc >= 0.9, auc
        assert all(0.0 <= s <= 1.0 for s in pos + neg)

    def test_weighted_sample_frac_and_determinism(self, spark, scored):
        from dragnet_spark.operators.quality_model import (
            quality_weighted_sample)
        _, sc = scored
        n = sc.count()
        kept = quality_weighted_sample(sc, 0.3, temperature=1.0)
        k = kept.count()
        assert 0.15 * n < k < 0.45 * n  # ~target_frac up to the clip
        # engine/run/partitioning-invariant membership
        again = {r.doc_id for r in quality_weighted_sample(
            sc.repartition(7), 0.3, temperature=1.0).collect()}
        assert {r.doc_id for r in kept.collect()} == again

    def test_temperature_moves_quality_mass(self, spark, scored):
        from dragnet_spark.operators.quality_model import (
            quality_weighted_sample)
        _, sc = scored
        cold = quality_weighted_sample(sc, 0.3, temperature=0.25)
        hot = quality_weighted_sample(sc, 0.3, temperature=100.0)
        mean_cold = cold.agg(F.avg('quality_score')).collect()[0][0]
        mean_hot = hot.agg(F.avg('quality_score')).collect()[0][0]
        mean_all = sc.agg(F.avg('quality_score')).collect()[0][0]
        # cold sampling concentrates on high scores; hot ~ uniform
        assert mean_cold > mean_all
        assert abs(mean_hot - mean_all) < abs(mean_cold - mean_all)


@pytest.mark.spark
class TestStatefulStream:
    def test_state_carries_across_micro_batches(self, spark, sf_dir,
                                                tmp_path):
        from dragnet_spark.streaming.stateful_stream import (
            run_stateful_user_totals)
        prev_tz = spark.conf.get('spark.sql.session.timeZone')
        spark.conf.set('spark.sql.session.timeZone', 'UTC')
        try:
            ev = (spark.read.parquet(f'{sf_dir}/events.parquet')
                  .withColumn('ts', F.col('ts').cast('timestamp')))
            (ev.repartition(4).write.mode('overwrite')
             .parquet(str(tmp_path / 'src')))
            res = run_stateful_user_totals(
                spark, str(tmp_path / 'src'), str(tmp_path / 'chk'),
                str(tmp_path / 'out'))
            got = {r.user_id: r for r in res.collect()}
            exp = {r.user_id: r for r in ev.groupBy('user_id').agg(
                F.count('*').alias('n_events'),
                F.sum(F.col('value').cast('decimal(18,2)'))
                .cast('double').alias('total_value')).collect()}
            assert set(got) == set(exp)
            for uid, e in exp.items():
                assert got[uid].n_events == e.n_events
                assert abs(got[uid].total_value - e.total_value) < 1e-9
            # state genuinely crossed micro-batches: the update-mode
            # sink saw emits from more than one epoch
            epochs = (spark.read.parquet(str(tmp_path / 'out'))
                      .select('_epoch').distinct().count())
            assert epochs > 1
        finally:
            spark.conf.set('spark.sql.session.timeZone', prev_tz)

"""Extraction operator tests: span-sequence invariant + Spark e2e.

The per-row invariant (BASELINE.json input_hint): output spans preserve
(kind, text, media_ref, order); media spans bypass classification and
reappear verbatim in order.
"""

import pytest

from dragnet_spark.model import LogisticModel
from dragnet_spark.operators.extract import (
    STATUS_OK, STATUS_PARSE_ERROR, STATUS_TOO_FEW, process_document,
    split_runs,
)
from dragnet_spark.sources.synthesis import make_document


def density_model():
    """Deterministic hand-set model: keep blocks with current link density
    < 0.5 -- makes the span-invariant tests model-independent."""
    return LogisticModel([0, 0, -10.0, 0, 0, 0, 0, 0, 0], 5.0)


def spanify(*items):
    """items: str (text span) or ('media', ref)."""
    spans = []
    for it in items:
        if isinstance(it, tuple):
            spans.append({'kind': 'media', 'text': '', 'media_ref': it[1],
                          'offset': len(spans)})
        else:
            spans.append({'kind': 'text', 'text': it, 'media_ref': '',
                          'offset': len(spans)})
    return spans


CONTENT_HTML = (
    '<html><body><div class="nav"><a href="/">Home</a> <a href="/n">News</a>'
    ' <a href="/c">Contact</a></div>'
    '<div id="content" class="article">'
    '<p>%s</p><p>%s</p><p>%s</p></div>'
    '<div class="footer"><a href="/t">Terms of service</a>'
    ' <a href="/p">Privacy</a></div></body></html>'
    % ('this is the real article content with many informative words ' * 3,
       'a second long paragraph of genuine article text goes right here ' * 3,
       'and a third paragraph concludes the informative article body ' * 3))


class TestProcessDocument:
    def test_content_extracted_boilerplate_dropped(self):
        spans = spanify(CONTENT_HTML)
        out, content, status = process_document(
            spans, density_model())
        assert status == STATUS_OK
        assert 'real article content' in content
        assert 'Home' not in content
        assert 'Terms' not in content
        # output spans are exactly the kept blocks, in order
        assert [s['kind'] for s in out] == ['text'] * len(out)
        assert [s['offset'] for s in out] == list(range(len(out)))
        assert '\n'.join(s['text'] for s in out) == content

    def test_media_passthrough_order(self):
        html_a = CONTENT_HTML
        spans = spanify(('media', 'img://d/0.jpg'), html_a,
                        ('media', 'img://d/1.jpg'),
                        ('media', 'img://d/2.jpg'))
        out, content, status = process_document(
            spans, density_model())
        assert status == STATUS_OK
        media = [s for s in out if s['kind'] == 'media']
        assert [m['media_ref'] for m in media] == [
            'img://d/0.jpg', 'img://d/1.jpg', 'img://d/2.jpg']
        # first span is media 0; media 1,2 follow all text spans
        assert out[0]['kind'] == 'media'
        assert out[-1]['media_ref'] == 'img://d/2.jpg'
        assert out[-2]['media_ref'] == 'img://d/1.jpg'
        assert [s['offset'] for s in out] == list(range(len(out)))

    def test_text_spans_split_mid_document(self):
        # splitting the same HTML into arbitrary text spans must not
        # change the result (runs concatenate before parsing)
        whole, content_whole, _ = process_document(
            spanify(CONTENT_HTML), density_model())
        cut = len(CONTENT_HTML) // 3
        parts, content_parts, _ = process_document(
            spanify(CONTENT_HTML[:cut], CONTENT_HTML[cut:2 * cut],
                    CONTENT_HTML[2 * cut:]), density_model())
        assert content_whole == content_parts
        assert whole == parts

    def test_parse_error_contained(self):
        spans = spanify('<!--', ('media', 'img://x/0.jpg'))
        out, content, status = process_document(
            spans, density_model())
        assert status == STATUS_PARSE_ERROR
        assert content == ''
        assert [s['media_ref'] for s in out] == ['img://x/0.jpg']

    def test_too_few_blocks(self):
        spans = spanify('<div>only one tiny block</div>')
        out, content, status = process_document(
            spans, density_model())
        assert status == STATUS_TOO_FEW
        assert content == ''
        assert out == []

    def test_empty_spans(self):
        out, content, status = process_document([], density_model())
        assert content == ''

    def test_split_runs_orders_by_offset(self):
        spans = spanify('a', ('media', 'm'), 'b')
        shuffled = [spans[2], spans[0], spans[1]]
        items = split_runs(shuffled)
        assert [k for k, _ in items] == ['text', 'media', 'text']


class TestSynthesis:
    def test_deterministic(self):
        a = make_document('h001/doc-00000001-0', 'First sentence. Second one. '
                          'Third sentence here. Fourth. Fifth and final.')
        b = make_document('h001/doc-00000001-0', 'First sentence. Second one. '
                          'Third sentence here. Fourth. Fifth and final.')
        assert a == b

    def test_gold_matches_extraction_with_perfect_model(self):
        """The generator's gold content must equal the blockifier's view of
        the content region: extract with an oracle that keeps everything,
        then check gold lines are a subset of block texts."""
        text = ('The quick brown fox jumps over the lazy dog. '
                'A second sentence with more words in it. '
                'Third sentence of the body. Fourth one here. '
                'Fifth sentence closes. Sixth adds detail. Seventh too.')
        spans, gold_c, gold_m = make_document('h001/doc-00000042-0', text)
        span_dicts = [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
                      for k, t, m, o in spans]
        from dragnet_spark.operators.extract import blockify_spans
        _, _, all_blocks, status = blockify_spans(span_dicts)
        assert status == STATUS_OK
        block_texts = [b.text for b in all_blocks]
        for line in gold_c.split('\n'):
            assert line in block_texts, (line, block_texts)
        for line in gold_m.split('\n'):
            assert any(line in t for t in block_texts), (line, block_texts)


@pytest.mark.spark
class TestExtractSpark:
    def test_extract_e2e(self, spark, sf_dir):
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.sources.synthesis import synthesize_corpus
        spans_df, gold_df = synthesize_corpus(spark, sf_dir)
        result = extract(spans_df)
        rows = result.collect()
        assert len(rows) == spans_df.count()
        ok = [r for r in rows if r.status == STATUS_OK]
        assert len(ok) > 0.9 * len(rows)
        # edge docs behave as designed
        by_id = {r.doc_id: r for r in rows}
        assert by_id['edge/unparseable'].status == STATUS_PARSE_ERROR
        assert by_id['edge/too-few-blocks'].status == STATUS_TOO_FEW
        # media passthrough at scale: every input media ref reappears in order
        in_media = {
            r['doc_id']: [s['media_ref'] for s in r['spans']
                          if s['kind'] == 'media']
            for r in spans_df.collect()}
        for r in rows:
            got = [s.media_ref for s in r.spans if s.kind == 'media']
            assert got == in_media[r.doc_id], r.doc_id

    def test_extract_plan_single_input_exchange(self, spark, sf_dir):
        """The whole pipeline carries exactly ONE exchange: the deliberate
        round-robin spread of the cheap (doc_id, text) input rows.  The
        fat Arrow stages (synthesis, blockify+featurize+predict) are
        narrow -- no shuffle of documents or blocks."""
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.sources.synthesis import synthesize_corpus
        spans_df, _ = synthesize_corpus(spark, sf_dir,
                                        include_edge_docs=False)
        plan = extract(spans_df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count('Exchange') == 1, plan
        assert 'RoundRobinPartitioning' in plan, plan

    def test_extract_plan_no_shuffle_without_repartition(self, spark, sf_dir):
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.sources.synthesis import synthesize_corpus
        spans_df, _ = synthesize_corpus(spark, sf_dir,
                                        include_edge_docs=False,
                                        num_partitions=0)
        plan = extract(spans_df)._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange' not in plan, plan


@pytest.mark.spark
def test_fused_synthesize_and_extract_equivalent(spark):
    # the one-stage bench path must produce exactly the two-stage output
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.sources.synthesis import (synthesize_and_extract,
                                                 synthesize_corpus)
    sf = '/root/testdata/sf0.001'
    spans_df, _ = synthesize_corpus(spark, sf, include_edge_docs=False)
    two = {r.doc_id: (r.content_text, r.status)
           for r in extract(spans_df).collect()}
    one = {r.doc_id: (r.content_text, r.status)
           for r in synthesize_and_extract(spark, sf).collect()}
    assert one == two


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _write_parts(table, sf, n_files):
    """``table`` as ``sf``/documents.parquet: a flat directory of
    ``n_files`` single-row-group part files."""
    import pyarrow.parquet as pq
    out = sf / 'documents.parquet'
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       str(out / ('part-%05d.parquet' % i)))
    return str(sf)


@pytest.fixture(scope='module')
def split_sf(spark, sf_dir, tmp_path_factory):
    """sf_dir's documents as defaultParallelism part files (same rows)."""
    import pyarrow.parquet as pq
    return _write_parts(pq.read_table('%s/documents.parquet' % sf_dir),
                        tmp_path_factory.mktemp('split_sf'),
                        spark.sparkContext.defaultParallelism)


@pytest.mark.spark
class TestSpreadDocs:
    """``synthesis._spread_docs`` gives the per-document Python stages one
    task per core: whatever the input layout, one round-robin exchange
    to ``defaultParallelism`` partitions."""

    @pytest.mark.parametrize('layout', ['single_file', 'split_per_core',
                                        'cores_plus_one', 'hive'])
    def test_spreads_once_to_cores(self, spark, sf_dir, split_sf, tmp_path,
                                   layout):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from dragnet_spark.sources.synthesis import synthesize_and_extract
        par = spark.sparkContext.defaultParallelism
        table = pq.read_table('%s/documents.parquet' % sf_dir)
        if layout == 'single_file':
            sf = sf_dir
        elif layout == 'split_per_core':
            sf = split_sf
        elif layout == 'cores_plus_one':
            sf = _write_parts(table, tmp_path, par + 1)
        else:
            table = table.append_column(
                'key', pc.bit_wise_and(table['doc_id'], 1))
            pq.write_to_dataset(table, str(tmp_path / 'documents.parquet'),
                                partition_cols=['key'])
            sf = str(tmp_path)
        df = synthesize_and_extract(spark, sf)
        plan = _plan(df)
        assert plan.count('Exchange') == 1, plan
        assert plan.count('RoundRobinPartitioning(%d)' % par) == 1, plan
        assert df.rdd.getNumPartitions() == par

    @pytest.mark.parametrize('layout', ['single_file', 'split_per_core'])
    def test_rows_equal_explicit_spread(self, spark, sf_dir, split_sf,
                                        layout):
        from dragnet_spark.sources.synthesis import (synthesize_and_extract,
                                                     synthesize_corpus)
        sf = sf_dir if layout == 'single_file' else split_sf
        assert (_sorted_rows(synthesize_and_extract(spark, sf))
                == _sorted_rows(synthesize_and_extract(spark, sf,
                                                       num_partitions=16)))
        default = synthesize_corpus(spark, sf)
        spread = synthesize_corpus(spark, sf, num_partitions=16)
        for got, want in zip(default, spread):
            assert _sorted_rows(got) == _sorted_rows(want)


@pytest.mark.spark
class TestHostileSpans:
    """The library-API containment contract (verify surface 2): hand-
    built hostile spans must come back as status rows -- never a
    PythonException task abort -- and media/unknown-kind spans must
    reappear verbatim in order."""

    def test_hostile_inputs_all_contained(self, spark):
        import dragnet_spark
        deep = ('<div>' * 600) + 'needle in the deep' + ('</div>' * 600)
        big = ('<p>' + ('large body word ' * 7000) + '</p>\n') * 10  # >1 MB, multi-block
        rows = [
            ('nulls', [{'kind': 'text', 'text': None,
                        'media_ref': None, 'offset': 0}]),
            ('null_kind', [{'kind': None, 'text': '<p>x</p>',
                            'media_ref': None, 'offset': 0}]),
            ('dup_neg_offsets', [
                {'kind': 'text', 'text': '<p>b second</p>',
                 'media_ref': None, 'offset': -5},
                {'kind': 'text', 'text': '<p>a first</p>',
                 'media_ref': None, 'offset': -5},
                {'kind': 'text', 'text': '<p>tail</p>',
                 'media_ref': None, 'offset': 2}]),
            ('unknown_kind', [
                {'kind': 'hologram', 'text': None,
                 'media_ref': 'holo://1', 'offset': 0},
                {'kind': 'text', 'text': '<p>body text here now '
                 'with enough words to survive</p>', 'media_ref': None,
                 'offset': 1}]),
            ('deep_nesting', [{'kind': 'text', 'text': deep,
                               'media_ref': None, 'offset': 0}]),
            ('megabyte_doc', [{'kind': 'text', 'text': big,
                               'media_ref': None, 'offset': 0}]),
            ('empty', []),
        ]
        df = spark.createDataFrame(
            rows, 'doc_id string, spans array<struct<kind:string,'
                  'text:string,media_ref:string,offset:int>>')
        out = {r.doc_id: r for r in
               dragnet_spark.extract_content(df).collect()}
        allowed = {'ok', 'too_few_blocks', 'blockify_error', 'error'}
        assert len(out) == len(rows)
        assert {r.status for r in out.values()} <= allowed
        # unknown-kind span reappears verbatim, in order
        uk = [s for s in out['unknown_kind'].spans
              if s['kind'] == 'hologram']
        assert len(uk) == 1 and uk[0]['media_ref'] == 'holo://1'
        # the giant doc and the deep doc both produced real output
        assert out['megabyte_doc'].status == 'ok'
        assert 'large body word' in out['megabyte_doc'].content_text
        assert out['deep_nesting'].status in allowed


class TestDocRowBatches:
    """The one batch loop behind every per-document Arrow stage
    (extraction, blockify, gold labeling, pdf, fused synthesis) bounds
    its output WITHIN an input batch, Spark-free."""

    @staticmethod
    def _drive(rb, per_row, schema):
        import pyarrow as pa

        from dragnet_spark.operators.extract import doc_row_batches
        out = list(doc_row_batches(iter([rb]), per_row, schema))
        cols = [c.to_pylist() for c in rb.columns]
        direct = pa.Table.from_pylist(
            [row for values in zip(*cols) for row in per_row(*values)],
            schema=schema)
        return out, direct

    def test_row_cap_splits_block_fan_out(self):
        import pyarrow as pa

        from dragnet_spark.model import default_model
        from dragnet_spark.operators.blocks_df import (BLOCKS_PA_SCHEMA,
                                                       doc_to_block_rows)
        from dragnet_spark.plans.session import ARROW_BATCH_ROWS
        from dragnet_spark.sources.synthesis import (SPANS_SCHEMA,
                                                     iter_span_docs)
        text = ('First sentence here. Second one follows. Third is longer '
                'than the rest of them. Fourth. Fifth closes it.')
        docs = list(iter_span_docs(list(range(200)), [text] * 200))
        rb = pa.RecordBatch.from_pylist(
            [{'doc_id': d, 'spans': s} for d, s in docs],
            schema=SPANS_SCHEMA)
        model = default_model()

        def per_row(doc_id, spans):
            return doc_to_block_rows(doc_id, spans, model)

        out, direct = self._drive(rb, per_row, BLOCKS_PA_SCHEMA)
        assert direct.num_rows > ARROW_BATCH_ROWS  # one batch fans out
        assert len(out) > 1
        assert all(b.num_rows <= ARROW_BATCH_ROWS for b in out)
        assert pa.Table.from_batches(out).equals(direct)

    def test_byte_budget_splits_fat_rows(self):
        import pyarrow as pa

        from dragnet_spark.operators.extract import (EXTRACTED_PA_SCHEMA,
                                                     OUT_BATCH_BYTES)
        big = 'x' * (1 << 20)
        rb = pa.RecordBatch.from_pylist(
            [{'doc_id': 'd%d' % i, 'text': big} for i in range(20)])

        def per_row(doc_id, text):
            return [{'doc_id': doc_id, 'spans': [], 'content_text': text,
                     'status': 'ok'}]

        out, direct = self._drive(rb, per_row, EXTRACTED_PA_SCHEMA)
        assert 20 * 2 * len(big) > OUT_BATCH_BYTES  # estimate crosses it
        assert len(out) > 1
        assert all(b.num_rows < 20 for b in out)
        assert pa.Table.from_batches(out).equals(direct)

"""Per-row Python stages share one batch loop (``extract.map_doc_rows``):
each runs as one ``MapInArrow``, with no pandas batch loop of its own."""

import pytest


def _assert_one_row_loop(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'MapInArrow' in plan and 'MapInPandas' not in plan, plan


@pytest.mark.spark
class TestOneRowLoop:
    def test_cleaneval_gold(self, spark):
        from dragnet_spark.sources.gold_io import parse_corrected_cleaneval
        df = spark.createDataFrame(
            [('d1', '<html><body><p>main text</p></body></html>')],
            'doc_id string, corrected_text string')
        _assert_one_row_loop(parse_corrected_cleaneval(df))

    def test_edit_distance(self, spark):
        from dragnet_spark.operators.metrics import evaluate_extracted_tokens
        pred = spark.createDataFrame([('d1', 'a b c d')],
                                     'doc_id string, content_text string')
        _assert_one_row_loop(evaluate_extracted_tokens(pred, pred))

    def test_media_features(self, spark):
        from dragnet_spark.operators.multimodal import (
            extract_media_features, media_table)
        docs = spark.createDataFrame([(1, 'some text')],
                                     'doc_id long, text string')
        _assert_one_row_loop(extract_media_features(media_table(docs)))

    def test_corpus_synthesis(self, spark, sf_dir):
        from dragnet_spark.sources.synthesis import synthesize_corpus
        for frame in synthesize_corpus(spark, sf_dir):
            _assert_one_row_loop(frame)


@pytest.mark.spark
def test_null_content_scores_as_no_tokens(spark):
    # a null extraction is the empty token list: no overlap with the
    # gold, and its edit distance is the gold token count, not a failed
    # job
    from dragnet_spark.operators.metrics import evaluate_extracted_tokens
    pred = spark.createDataFrame([('d1', None), ('d2', 'a b c')],
                                 'doc_id string, content_text string')
    gold = spark.createDataFrame([('d1', 'a b x d'), ('d2', 'a b c')],
                                 'doc_id string, content_text string')
    got = {r.doc_id: (r.jaccard, r.edit_distance)
           for r in evaluate_extracted_tokens(pred, gold).collect()}
    assert got == {'d1': (0.0, 4), 'd2': (1.0, 0)}

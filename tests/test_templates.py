"""Phase-3 hard corpus (cross-host template families, multilingual
chrome) + template mining."""

import contextlib

import pytest

import pyspark.sql.functions as F


@pytest.mark.spark
class TestHardCorpus:
    @pytest.fixture(scope='class')
    def hard(self, spark):
        from dragnet_spark.sources.synthesis import synthesize_hard_corpus
        spans_df, gold_df = synthesize_hard_corpus(
            spark, '/root/testdata/sf0.001')
        return spans_df.cache(), gold_df.cache()

    def test_gold_is_chrome_invariant(self, spark, hard):
        # the hard corpus re-skins documents but must not change gold
        from dragnet_spark.sources.synthesis import synthesize_corpus
        _, gold_easy = synthesize_corpus(spark, '/root/testdata/sf0.001',
                                         include_edge_docs=False)
        _, gold_hard = hard
        a = {r.doc_id: (r.content_text, r.comments_text)
             for r in gold_easy.collect()}
        b = {r.doc_id: (r.content_text, r.comments_text)
             for r in gold_hard.collect()}
        assert a == b

    def test_all_four_templates_render(self, spark, hard):
        spans_df, _ = hard
        raw = spans_df.select(F.array_join(
            F.transform('spans', lambda s: s['text']), ' ').alias('t'))
        markers = {'default': 'Most popular posts',
                   'alt': 'unlimited digital access',
                   'de': 'Datenschutzerklärung',
                   'zh': '热门文章排行'}
        for fam, needle in markers.items():
            n = raw.where(F.col('t').contains(needle)).count()
            assert n > 20, (fam, n)

    def test_extraction_robust_to_multilingual_chrome(self, spark, hard):
        # the shipped model must hold its F1 when half the chrome is
        # non-English: density/tag features are language-agnostic
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.operators.metrics import token_f1
        spans_df, gold_df = hard
        row = token_f1(extract(spans_df), gold_df).collect()[0]
        assert row['f1'] >= 0.8, row

    def test_template_families_cross_hosts(self, spark, hard):
        from dragnet_spark.operators.templates import template_families
        spans_df, _ = hard
        fams_df = template_families(spans_df)
        # the r03 implementation collected the edge list AND every
        # (doc_id, host) row to the driver; the plan of the DataFrame
        # version must contain no locally-materialized doc-level scan
        plan = fams_df._jdf.queryExecution().optimizedPlan().toString()
        assert 'LocalTableScan' not in plan, plan
        assert 'ExistingRDD' not in plan, plan
        fams = fams_df.collect()
        # four chrome families, each spanning many hosts
        assert len(fams) == 4, fams
        assert sum(f.n_docs for f in fams) == 500
        assert all(f.n_hosts >= 5 for f in fams), fams
        assert all(f.converged for f in fams)

    def test_template_mining_shingles_once(self, spark, hard, monkeypatch):
        # the pair plan reads the one shingle checkpoint: no Python
        # stage runs again under the edges handed to the components
        from dragnet_spark.operators import templates
        seen = []
        propagate = templates.propagate_min_labels

        def spy(nodes, edges, **kwargs):
            seen.append(edges)
            return propagate(nodes, edges, **kwargs)

        monkeypatch.setattr(templates, 'propagate_min_labels', spy)
        spans_df, _ = hard
        templates.template_families(spans_df)
        (edges,) = seen
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert 'MapInArrow' not in plan, plan


# rounds propagate_min_labels takes on the 100k-node chain below
# (measured): spark.range gives as many contiguous partitions as cores,
# seeding collapses each one's chain segment, and the rounds join the
# segments; converging within it pins that the round shape adds none
CHAIN_ROUNDS = 3


@contextlib.contextmanager
def _confs(spark, confs):
    """Session confs set for the block, restored after it."""
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _random_graph(spark, id_type):
    """Many components of mixed size and shape, isolated nodes and
    duplicate / self-loop edges included: ``(ids, edges, nodes frame,
    edge frame)``."""
    import random
    rng = random.Random(7)
    n = 3000
    nums = rng.sample(range(10 ** 6), n)
    ids = nums if id_type == 'long' else ['n%d' % x for x in nums]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(2200)]
    edges += edges[:50] + [(ids[0], ids[0])]
    nodes = spark.createDataFrame([(i,) for i in ids], 'doc_id %s' % id_type)
    edge_df = spark.createDataFrame(
        edges, 'src %s, dst %s' % (id_type, id_type))
    return ids, edges, nodes, edge_df


def _union_find_min_labels(ids, edges):
    """Driver-side reference: node -> its component's minimum id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _seed(src, dst, id_type):
    """``partition_min_labels`` over one batch: ``{id: seed}``."""
    import pyarrow as pa
    from dragnet_spark.operators.components import partition_min_labels
    batch = pa.RecordBatch.from_arrays(
        [pa.array(src, id_type), pa.array(dst, id_type)],
        names=['_src', '_dst'])
    out = list(partition_min_labels(iter([batch])))
    assert len(out) <= 1
    return dict(zip(out[0]['_id'].to_pylist(),
                    out[0]['label'].to_pylist())) if out else {}


class TestPartitionMinLabels:
    """The seeding pass, Spark-free: one partition's edge batches in,
    each endpoint with its component's minimum over those edges out."""

    def test_chain_in_any_order(self):
        import pyarrow as pa
        import random
        nodes = list(range(0, 2000, 2))
        random.Random(3).shuffle(nodes)
        edges = list(zip(nodes, nodes[1:]))
        got = _seed([a for a, _ in edges], [b for _, b in edges], pa.int64())
        assert got == {x: 0 for x in nodes}

    def test_clique_duplicates_and_self_loop(self):
        import pyarrow as pa
        clique = [(a, b) for a in (7, 3, 9, 5) for b in (7, 3, 9, 5) if a != b]
        edges = clique + clique[:4] + [(11, 11), (12, 11), (12, 11)]
        got = _seed([a for a, _ in edges], [b for _, b in edges], pa.int64())
        assert got == {3: 3, 5: 3, 7: 3, 9: 3, 11: 11, 12: 11}

    def test_null_endpoint_edge_is_dropped(self):
        import pyarrow as pa
        got = _seed([4, None, 6, 2], [5, 1, None, 4], pa.int64())
        assert got == {2: 2, 4: 2, 5: 2}

    def test_string_ids_follow_binary_order(self):
        # Python str order is code-point order = UTF-8 byte order, the
        # order Spark's min() takes over strings
        import pyarrow as pa
        words = ['é', 'z', 'Z', 'ä', '日本', 'ｚ', 'ß', 'aé']
        src, dst = words[:4] + ['ß'], words[4:] + ['日本']
        got = _seed(src, dst, pa.string())
        comps = [{'é', '日本', 'ß', 'Z'}, {'z', 'ｚ'}, {'ä', 'aé'}]
        want = {w: min(c) for c in comps for w in c}
        assert got == want
        assert (want['é'], want['ｚ'], want['ä']) == ('Z', 'z', 'aé')

    def test_empty_partition(self):
        import pyarrow as pa
        from dragnet_spark.operators.components import partition_min_labels
        assert list(partition_min_labels(iter([]))) == []
        assert _seed([], [], pa.int64()) == {}
        assert _seed([None], [1], pa.int64()) == {}


@pytest.mark.spark
class TestConnectedComponents:
    """propagate_min_labels: the DataFrame-only CC behind template
    mining and duplicate-cluster rollups (VERDICT r03 #1)."""

    def test_two_components_exact_labels(self, spark):
        from dragnet_spark.operators.components import propagate_min_labels
        nodes = spark.createDataFrame(
            [(x,) for x in 'abcdefg'], 'doc_id string')
        # component 1: a-b-c-d (a path); component 2: e-f; g isolated
        edges = spark.createDataFrame(
            [('b', 'a'), ('c', 'b'), ('d', 'c'), ('f', 'e')],
            'src string, dst string')
        labels, converged = propagate_min_labels(nodes, edges)
        assert converged
        got = {r.doc_id: r.label for r in labels.collect()}
        assert got == {'a': 'a', 'b': 'a', 'c': 'a', 'd': 'a',
                       'e': 'e', 'f': 'e', 'g': 'g'}

    def test_long_chain_converges_logarithmically(self, spark):
        # a chain-capped mega-bucket emits one long sorted-adjacent
        # chain: 100k nodes, diameter 100k -- pointer jumping must close
        # it in O(log d) rounds, entirely in DataFrames (driver flat)
        from dragnet_spark.operators.components import propagate_min_labels
        import pyspark.sql.functions as F
        n = 100_000
        nodes = spark.range(n).select(
            F.format_string('d%07d', 'id').alias('doc_id'))
        edges = spark.range(1, n).select(
            F.format_string('d%07d', 'id').alias('src'),
            F.format_string('d%07d', F.col('id') - 1).alias('dst'))
        labels, converged = propagate_min_labels(nodes, edges,
                                                 max_rounds=CHAIN_ROUNDS)
        assert converged
        n_components = labels.select('label').distinct().count()
        assert n_components == 1
        assert labels.count() == n

    @pytest.mark.parametrize('id_type', ['long', 'string'])
    def test_matches_union_find_on_random_graph(self, spark, id_type):
        from dragnet_spark.operators.components import propagate_min_labels
        ids, edges, nodes, edge_df = _random_graph(spark, id_type)
        labels, converged = propagate_min_labels(nodes, edge_df)
        assert converged
        got = {r.doc_id: r.label for r in labels.collect()}
        want = _union_find_min_labels(ids, edges)
        assert got == want
        assert len(set(want.values())) > 100

    @pytest.mark.parametrize('id_type', ['long', 'string'])
    def test_rounds_finish_what_partitions_seed(self, spark, id_type):
        # the seeding pass only closes what one partition holds: with
        # the edges spread over 8 partitions (and AQE not coalescing
        # them back into one) the rounds must finish the components
        from dragnet_spark.operators.components import propagate_min_labels
        with _confs(spark, {
                'spark.sql.adaptive.coalescePartitions.enabled': 'false'}):
            ids, edges, nodes, edge_df = _random_graph(spark, id_type)
            report = {}
            labels, converged = propagate_min_labels(
                nodes, edge_df.repartition(8), report=report)
            got = {r.doc_id: r.label for r in labels.collect()}
        assert converged
        assert got == _union_find_min_labels(ids, edges)
        assert report['rounds'] > 1
        assert len(report['moved']) == report['rounds']
        assert report['moved'][-1] == 0 and report['moved'][0] > 0
        assert report['seeded'] > 0

    def test_repeated_node_ids_get_one_label_row(self, spark):
        # one partition holds every edge, so seeding closes everything
        # and the returned labels are the seed checkpoint itself
        from dragnet_spark.operators.components import propagate_min_labels
        nodes = spark.createDataFrame(
            [(x,) for x in [30, 10, 30, 20, 40, 40, 50]], 'doc_id long')
        edges = spark.createDataFrame(
            [(30, 10), (20, 30), (50, 40)],
            'src long, dst long').coalesce(1)
        report = {}
        labels, converged = propagate_min_labels(nodes, edges,
                                                 report=report)
        assert converged
        assert report == {'rounds': 1, 'moved': [0], 'seeded': 3}
        rows = sorted((r.doc_id, r.label) for r in labels.collect())
        assert rows == [(10, 10), (20, 10), (30, 10), (40, 40), (50, 40)]

    def test_null_ids_and_null_endpoints_are_dropped(self, spark):
        # a null id is no node: left in, its label row counted as moved
        # in every round, and the fixpoint ran out of rounds unconverged
        from dragnet_spark.operators.components import propagate_min_labels
        nodes = spark.createDataFrame([(1,), (2,), (None,)], 'doc_id long')
        edges = spark.createDataFrame([(1, 2), (3, None)],
                                      'src long, dst long')
        report = {}
        labels, converged = propagate_min_labels(nodes, edges, max_rounds=6,
                                                 report=report)
        assert converged
        assert report['rounds'] == 1
        got = {(r.doc_id, r.label) for r in labels.collect()}
        assert got == {(1, 1), (2, 1)}

    def test_frees_superseded_checkpoints(self, spark):
        # the edge, seed and round checkpoints are released before the
        # call returns: the only RDD it leaves persisted is the labels'
        from dragnet_spark.operators.components import propagate_min_labels
        ids, _, nodes, edge_df = _random_graph(spark, 'long')
        persisted = spark.sparkContext._jsc.getPersistentRDDs()
        before = set(persisted.keySet())
        labels, _ = propagate_min_labels(nodes, edge_df.repartition(8))
        added = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        added -= before
        assert len(added) == 1
        # and the labels still read back from that one checkpoint
        assert labels.count() == len(ids)

    def test_session_still_runs_ml_transform(self, spark):
        # counting moved labels must leave the session serializable: a
        # fitted model's transform UDF captures it via the training
        # summary
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.linalg import Vectors
        from dragnet_spark.operators.components import propagate_min_labels
        nodes = spark.createDataFrame([(1,), (2,)], 'doc_id long')
        edges = spark.createDataFrame([(1, 2)], 'src long, dst long')
        propagate_min_labels(nodes, edges)
        train = spark.createDataFrame(
            [(Vectors.dense([0.0]), 0.0), (Vectors.dense([1.0]), 1.0)],
            ['features', 'label'])
        model = LogisticRegression(maxIter=5).fit(train)
        assert len(model.transform(train).collect()) == 2

    def test_max_rounds_flags_non_convergence(self, spark):
        from dragnet_spark.operators.components import propagate_min_labels
        import pyspark.sql.functions as F
        n = 64
        nodes = spark.range(n).select(
            F.format_string('d%03d', 'id').alias('doc_id'))
        edges = spark.range(1, n).select(
            F.format_string('d%03d', 'id').alias('src'),
            F.format_string('d%03d', F.col('id') - 1).alias('dst'))
        # spread the chain over 8 partitions: seeding collapses the
        # chain segment each partition holds, so with as few contiguous
        # partitions as cores (what spark.range gives) the rounds would
        # have little left to do, and with one none at all
        _, converged = propagate_min_labels(nodes, edges.repartition(8),
                                            max_rounds=2)
        assert not converged

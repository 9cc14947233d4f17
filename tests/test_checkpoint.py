"""Checkpoint manifest + resume semantics, partitioning strategies."""

import pytest

import pyspark.sql.functions as F


@pytest.fixture()
def small_corpus(spark):
    from dragnet_spark.sources.synthesis import synthesize_corpus
    spans_df, _ = synthesize_corpus(spark, '/root/testdata/sf0.001',
                                    include_edge_docs=False)
    return spans_df.where(F.col('doc_id') < 'h050').cache()


@pytest.mark.spark
class TestCheckpointResume:
    def test_resume_skips_completed_and_completes_rest(self, spark, tmp_path,
                                                       small_corpus):
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, filter_resume, read_manifest)
        base = str(tmp_path / 'ckpt')
        total = small_corpus.count()
        # a failed run completes a prefix of its doc_id-range partitions;
        # simulate with a contiguous range (the resume contract: ranges in
        # the manifest were fully processed, input immutable across runs)
        mid = sorted(r.doc_id for r in small_corpus.select('doc_id')
                     .collect())[total // 2]
        half = small_corpus.where(F.col('doc_id') <= mid)

        # first attempt processes only the range prefix (simulated failure)
        run1 = extract_resumable(spark, half, base, num_partitions=4)
        m1 = read_manifest(spark, base)
        assert m1.where(F.col('run_id') == run1).count() > 0
        assert m1.agg(F.sum('n_docs')).first()[0] == half.count()

        # resume over the FULL input: completed ranges are skipped
        todo = filter_resume(spark, small_corpus, base)
        done_ids = {r.doc_id for r in
                    spark.read.parquet(base + '/extracted')
                    .select('doc_id').collect()}
        todo_ids = {r.doc_id for r in todo.select('doc_id').collect()}
        assert todo_ids.isdisjoint(done_ids)

        run2 = extract_resumable(spark, small_corpus, base, num_partitions=4)
        out = spark.read.parquet(base + '/extracted')
        assert out.select('doc_id').distinct().count() == total
        # manifests carry disjoint lineage for both runs
        m2 = read_manifest(spark, base)
        assert m2.select('run_id').distinct().count() == 2
        assert m2.agg(F.sum('n_docs')).first()[0] == total
        assert run1 != run2

    def test_default_one_range_per_core(self, spark, tmp_path,
                                        small_corpus):
        # each doc_id range is one Python extraction task: the default
        # is one per core, and the manifest covers every doc once
        from dragnet_spark.sources.checkpoint import (extract_resumable,
                                                      read_manifest)
        base = str(tmp_path / 'ckpt_default')
        extract_resumable(spark, small_corpus, base)
        m = read_manifest(spark, base)
        assert m.count() == spark.sparkContext.defaultParallelism
        assert m.agg(F.sum('n_docs')).first()[0] == small_corpus.count()

    def test_numeric_run_id_resumes(self, spark, tmp_path, small_corpus):
        # an all-digit run id (a caller's, or a uuid4 hex prefix that
        # happens to draw only digits) must read back as the same string:
        # partition discovery would infer run_id=000000000001 as bigint 1
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.plans.partitioning import repartition_by_doc_range
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, read_extracted, read_manifest,
            run_with_checkpoints)
        base = str(tmp_path / 'ckpt_numeric')
        total = small_corpus.count()
        mid = sorted(r.doc_id for r in small_corpus.select('doc_id')
                     .collect())[total // 2]
        half = small_corpus.where(F.col('doc_id') <= mid)

        run1 = run_with_checkpoints(
            extract(repartition_by_doc_range(half, 4)), base,
            run_id='000000000001')
        assert run1 == '000000000001'
        m1 = read_manifest(spark, base)
        assert {r.run_id for r in m1.collect()} == {run1}
        assert m1.agg(F.sum('n_docs')).first()[0] == half.count()

        run2 = extract_resumable(spark, small_corpus, base, num_partitions=4)
        m2 = read_manifest(spark, base)
        assert {r.run_id for r in m2.collect()} == {run1, run2}
        assert m2.agg(F.sum('n_docs')).first()[0] == total
        committed = read_extracted(spark, base)
        assert committed.count() == total
        assert committed.select('doc_id').distinct().count() == total

    def test_orphan_rows_invisible_and_reprocessed_once(self, spark, tmp_path,
                                                        small_corpus):
        # crash between the output append and the manifest append (ADVICE
        # r01): the orphan run's rows must be invisible to readers, the
        # resume must re-extract those docs, and the committed view must
        # end with exactly one row per doc_id
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, read_extracted, read_manifest)
        base = str(tmp_path / 'ckpt_orphan')
        total = small_corpus.count()
        mid = sorted(r.doc_id for r in small_corpus.select('doc_id')
                     .collect())[total // 2]
        half = small_corpus.where(F.col('doc_id') <= mid)

        # simulate the crashed run: output rows appended, no manifest
        orphan = (extract(half)
                  .withColumn('run_id', F.lit('deadbeef0000'))
                  .withColumn('partition_id', F.spark_partition_id())
                  .withColumn('_row_hash', F.xxhash64('doc_id',
                                                      'content_text'))
                  .withColumn('_n_blocks_kept', F.lit(0))
                  .withColumn('_content_chars', F.lit(0)))
        orphan.write.mode('append').partitionBy('run_id') \
              .parquet(base + '/extracted')

        assert read_extracted(spark, base).count() == 0  # orphans hidden
        extract_resumable(spark, small_corpus, base, num_partitions=4)
        committed = read_extracted(spark, base)
        assert committed.count() == total
        assert committed.select('doc_id').distinct().count() == total
        # the raw directory still holds the orphan duplicates; the
        # manifest-committed view is the reader contract
        raw = spark.read.parquet(base + '/extracted')
        assert raw.count() == total + half.count()
        assert 'deadbeef0000' not in {
            r.run_id for r in read_manifest(spark, base)
            .select('run_id').distinct().collect()}

    def test_second_resume_is_noop(self, spark, tmp_path, small_corpus):
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, filter_resume, read_extracted,
            read_manifest)
        base = str(tmp_path / 'ckpt2')
        extract_resumable(spark, small_corpus, base, num_partitions=4)
        remaining = filter_resume(spark, small_corpus, base)
        assert remaining.count() == 0
        # the second SUBMISSION itself must succeed as a no-op (r05
        # smoke found the empty run's missing run_id=<id>/ directory
        # failing the per-run manifest scan): no new manifest rows, no
        # duplicate output rows
        n_manifest = read_manifest(spark, base).count()
        n_rows = read_extracted(spark, base).count()
        run2 = extract_resumable(spark, small_corpus, base,
                                 num_partitions=4)
        assert run2
        assert read_manifest(spark, base).count() == n_manifest
        assert read_extracted(spark, base).count() == n_rows

    def test_manifest_pass_scans_only_new_run(self, spark, tmp_path,
                                              small_corpus):
        # VERDICT r02 #4: output is hive-partitioned by run_id, so the
        # per-run manifest aggregation prunes to the new run's directory
        # instead of re-reading footers of every historical run
        import os
        from dragnet_spark.sources.checkpoint import extract_resumable
        base = str(tmp_path / 'ckpt4')
        total = small_corpus.count()
        mid = sorted(r.doc_id for r in small_corpus.select('doc_id')
                     .collect())[total // 2]
        run1 = extract_resumable(
            spark, small_corpus.where(F.col('doc_id') <= mid), base,
            num_partitions=4)
        run2 = extract_resumable(spark, small_corpus, base,
                                 num_partitions=4)
        out_path = base + '/extracted'
        assert sorted(d for d in os.listdir(out_path)
                      if d.startswith('run_id=')) == \
            sorted(['run_id=%s' % run1, 'run_id=%s' % run2])
        # replicate the manifest pass's read: it must only see run2 files
        scan = (spark.read.option('basePath', out_path)
                .parquet(os.path.join(out_path, 'run_id=%s' % run2)))
        files = scan.inputFiles()
        assert files and all('run_id=%s' % run2 in f for f in files)

    def test_corrupted_manifest_fails_loudly(self, spark, tmp_path):
        # an unreadable manifest is not "no manifest": read as empty, it
        # would make filter_resume re-extract everything and hide every
        # committed row from read_extracted
        import os
        from dragnet_spark.sources.checkpoint import (filter_resume,
                                                      read_manifest)
        base = str(tmp_path / 'ckpt_corrupt')
        assert read_manifest(spark, base).count() == 0  # absent: empty
        os.makedirs(os.path.join(base, '_manifest'))
        with open(os.path.join(base, '_manifest', 'part-0000.parquet'),
                  'wb') as f:
            f.write(b'not a parquet file')
        docs = spark.createDataFrame([('h000/doc-0',)], 'doc_id string')
        with pytest.raises(Exception) as ei:
            read_manifest(spark, base).collect()
        assert 'PATH_NOT_FOUND' not in str(ei.value)
        with pytest.raises(Exception):
            filter_resume(spark, docs, base).collect()

    def test_manifest_metrics(self, spark, tmp_path):
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, read_manifest)
        from dragnet_spark.sources.synthesis import synthesize_corpus
        spans_df, _ = synthesize_corpus(spark, '/root/testdata/sf0.001',
                                        include_edge_docs=True)
        bad = spans_df.where(F.col('doc_id').startswith('edge/'))
        base = str(tmp_path / 'ckpt3')
        extract_resumable(spark, bad, base, num_partitions=2)
        m = read_manifest(spark, base)
        agg = m.agg(F.sum('n_docs').alias('d'), F.sum('n_failed').alias('f'),
                    F.sum('n_blocks_kept').alias('b'),
                    F.sum('content_chars').alias('c')).first()
        assert agg['d'] == bad.count()
        assert agg['f'] >= 2  # unparseable + too-few-blocks edge docs
        assert agg['b'] > 0 and agg['c'] > 0  # block/feature lineage metrics


@pytest.mark.spark
class TestPartitioning:
    def test_salt_by_host_breaks_hot_host(self, spark, small_corpus):
        from dragnet_spark.plans.partitioning import salt_by_host
        out = salt_by_host(small_corpus, 8, salts=8)
        dist = (out.withColumn('p', F.spark_partition_id())
                .groupBy('p').count().collect())
        counts = [r['count'] for r in dist]
        total = sum(counts)
        # the hot host owns ~30% of rows (h000); with salting no single
        # partition should hold more than ~2x the fair share
        assert max(counts) < 2.5 * total / len(counts) + 8

    def test_range_repartition_disjoint(self, spark, small_corpus):
        from dragnet_spark.plans.partitioning import repartition_by_doc_range
        out = repartition_by_doc_range(small_corpus, 4)
        ranges = (out.withColumn('p', F.spark_partition_id())
                  .groupBy('p')
                  .agg(F.min('doc_id').alias('lo'), F.max('doc_id').alias('hi'))
                  .collect())
        spans = sorted((r.lo, r.hi) for r in ranges)
        for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 <= lo2

    def test_bucket_by_size(self, spark, small_corpus):
        from dragnet_spark.plans.partitioning import bucket_by_size, doc_size_bytes
        sizes = sorted(r[0] for r in small_corpus.select(
            doc_size_bytes(F.col('spans'))).collect())
        p90 = sizes[int(0.9 * len(sizes))]
        normal, outliers = bucket_by_size(small_corpus, 8, outlier_bytes=p90)
        n, o = normal.count(), outliers.count()
        assert n + o == small_corpus.count()
        assert 0 < o <= int(0.15 * (n + o)) + 1

    def test_spread_guard_leaves_hive_layout_alone(self, spark, tmp_path):
        # a hive layout has no top-level part files: the probe must say
        # "unknown" instead of (0, 0), which made the guard repartition
        # the whole input down to 2 partitions
        from dragnet_spark.plans.partitioning import (probe_parquet_layout,
                                                      spread_small_scan)
        path = str(tmp_path / 'hive')
        (spark.range(200).withColumn('key', F.col('id') % 3)
         .write.partitionBy('key').parquet(path))
        assert probe_parquet_layout(path) is None
        df = spark.read.parquet(path)
        assert spread_small_scan(spark, df, path) is df
        (tmp_path / 'empty').mkdir()
        assert probe_parquet_layout(str(tmp_path / 'empty')) is None
        # a flat directory is still probed
        flat = str(tmp_path / 'flat')
        spark.range(200).coalesce(1).write.parquet(flat)
        assert probe_parquet_layout(flat) == (1, 200)

    def test_spread_guard_counts_planned_splits(self, spark, tmp_path):
        # 8 row groups, but Spark packs a file this small into ONE
        # split: the guard must see one scan task and spread, and find
        # that out without running a job
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dragnet_spark.plans.partitioning import (probe_parquet_layout,
                                                      spread_small_scan)
        path = str(tmp_path / 'groups.parquet')
        pq.write_table(pa.table({'id': list(range(500))}), path,
                       row_group_size=64)
        assert probe_parquet_layout(path) == (8, 500)
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 1
        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(None))
        spread = spread_small_scan(spark, df, path)
        assert set(tracker.getJobIdsForGroup(None)) == jobs_before
        assert spread is not df
        assert spread.rdd.getNumPartitions() == 2
        assert sorted(r.id for r in spread.collect()) == list(range(500))


@pytest.mark.spark
class TestLegacyLayoutMigration:
    def test_mixed_flat_and_partitioned_base_reads_and_resumes(
            self, spark, tmp_path, small_corpus):
        """ADVICE r03: a checkpoint base from the pre-r03 flat layout
        (run_id as a data column in root-level part files) mixed with
        new run_id=<id>/ partition dirs must read cleanly and resume
        instead of failing partition discovery."""
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.sources.checkpoint import (
            extract_resumable, read_extracted)
        base = str(tmp_path / 'ckpt')
        total = small_corpus.count()
        ids = sorted(r.doc_id for r in
                     small_corpus.select('doc_id').collect())
        mid = ids[total // 2]
        half = small_corpus.where(F.col('doc_id') <= mid)

        # 1. simulate a LEGACY run: flat (unpartitioned) parquet with
        # run_id as a plain column + a hand-written manifest row, the
        # exact on-disk shape the pre-r03 writer produced
        legacy_run = 'legacyrun0001'
        legacy_out = (extract(half)
                      .withColumn('run_id', F.lit(legacy_run))
                      .withColumn('partition_id', F.lit(0))
                      .withColumn('_row_hash',
                                  F.xxhash64('doc_id', 'content_text'))
                      .withColumn('_n_blocks_kept', F.lit(0))
                      .withColumn('_content_chars', F.lit(0)))
        legacy_out.write.mode('append').parquet(base + '/extracted')
        manifest = spark.createDataFrame(
            [(legacy_run, 0, ids[0], mid, half.count(), half.count(),
              0, 0, 0, 0, 0)],
            'run_id string, partition_id int, doc_id_min string, '
            'doc_id_max string, n_docs long, n_ok long, n_failed long, '
            'n_blocks_kept long, content_chars long, wall_ms long, '
            'content_checksum long')
        manifest.write.mode('append').parquet(base + '/_manifest')

        # 2. resume under the NEW partitioned layout over the full input
        extract_resumable(spark, small_corpus, base, num_partitions=4)

        # 3. the committed view must union both layouts: every doc
        # exactly once, legacy rows intact
        got = read_extracted(spark, base)
        doc_counts = (got.groupBy('doc_id').count()
                      .where(F.col('count') > 1).count())
        assert doc_counts == 0
        assert got.count() == total
        runs = {r.run_id for r in got.select('run_id').distinct().collect()}
        assert legacy_run in runs and len(runs) == 2


@pytest.mark.spark
class TestAqeSkewJoin:
    def test_aqe_splits_planted_skewed_join(self, spark):
        """North-rule 'AQE-tuned shuffles', evidenced: a join where 60%
        of the fact rows share one key must come out of AQE with the
        skewed partition SPLIT (SortMergeJoin(skew=true) + an
        AQEShuffleRead marked skewed in the final plan) instead of one
        straggler task owning 60% of the data.  Complements salting
        (plans/partitioning.py), which handles the skew AQE cannot see
        -- cost inside opaque Python stages."""
        confs = {
            'spark.sql.autoBroadcastJoinThreshold': '-1',
            'spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes':
                '100KB',
            'spark.sql.adaptive.skewJoin.skewedPartitionFactor': '1',
            'spark.sql.adaptive.advisoryPartitionSizeInBytes': '100KB',
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            fact = spark.range(2_000_000).select(
                F.when(F.col('id') % 10 < 6, F.lit(0))
                .otherwise(F.col('id') % 1000).alias('k'),
                F.sha2(F.col('id').cast('string'), 256).alias('v'))
            dim = spark.range(1000).select(
                F.col('id').alias('k'), (F.col('id') * 2).alias('w'))
            agg = (fact.join(dim, 'k')
                   .groupBy().agg(F.count('*').alias('n')))
            # the ACTION must run this dataset's own QueryExecution --
            # df.count() wraps a new one and the final AQE plan would
            # not be visible here
            assert agg.collect()[0].n == 2_000_000
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert 'isFinalPlan=true' in plan
            assert 'skew=true' in plan, plan
            assert 'skewed' in plan, plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

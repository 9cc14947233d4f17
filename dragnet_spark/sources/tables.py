"""Table I/O layer: Iceberg when a catalog is configured, parquet fallback.

The production target (BASELINE.json north_rule) is Iceberg at
10^12-document scale:

* reads: ``spark.read.table('catalog.db.documents')`` -- partition
  pruning + column pruning + snapshot isolation come from the Iceberg
  source; time travel (``VERSION AS OF``) gives reproducible training
  snapshots.
* writes: ``df.writeTo(table).append()`` -- atomic snapshot commits are
  what makes the checkpoint-manifest resume (sources.checkpoint)
  transactional; the recommended table spec partitions by
  ``bucket(1024, doc_id)`` with host as a hidden-partition transform so
  salting (plans.partitioning.salt_by_host) aligns with file clustering.

This sandbox ships no Iceberg runtime jar and has no network, so
:func:`catalog_available` returns False here and every helper falls back
to plain parquet paths with identical call shapes -- swap in the catalog
via ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime``
+ the three confs below and nothing else changes.

Required cluster confs (documented, not settable here)::

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hive | rest | hadoop
    spark.sql.defaultCatalog = lake
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T


def catalog_available(spark, catalog='lake'):
    """True iff an Iceberg catalog is configured on this session."""
    try:
        impl = spark.conf.get('spark.sql.catalog.%s' % catalog)
    except Exception:
        return False
    return bool(impl)


def _uses_catalog(spark, name, path, catalog):
    """True when the Iceberg ``catalog`` serves table ``name``; otherwise
    the parquet fallback ``path`` is required."""
    if catalog_available(spark, catalog):
        return True
    if path is None:
        raise ValueError('no Iceberg catalog and no fallback path for %r'
                         % name)
    return False


def read_if_present(read):
    """``read()`` (a DataFrame read, analysed here), or None when it
    fails only because its path does not exist yet -- the one read
    failure that means "nothing written yet".  Any other failure
    (corrupt footer, permissions, transient FS error) raises.  Error
    class first, message substring as the cross-version fallback."""
    from pyspark.errors import AnalysisException
    try:
        df = read()
        df.schema  # force analysis so a missing path surfaces here
        return df
    except AnalysisException as e:
        try:
            cond = e.getCondition()
        except Exception:
            cond = None
        msg = str(e)
        if (cond == 'PATH_NOT_FOUND' or 'PATH_NOT_FOUND' in msg
                or 'Path does not exist' in msg):
            return None
        raise


def read_table(spark, name, path=None, catalog='lake'):
    """Read an Iceberg table by name, or the parquet path fallback."""
    if _uses_catalog(spark, name, path, catalog):
        return spark.read.table('%s.%s' % (catalog, name))
    return spark.read.parquet(path)


def append_table(df, name, path=None, catalog='lake',
                 cluster_by_doc_range=None):
    """Append to an Iceberg table (atomic snapshot) or parquet fallback.

    ``cluster_by_doc_range``: optional partition count; range-partitions
    on doc_id before the write so files are doc_id-clustered -- the
    layout both the resume anti-join and downstream range scans want.
    """
    if cluster_by_doc_range:
        df = df.repartitionByRange(cluster_by_doc_range, F.col('doc_id'))
    if _uses_catalog(df.sparkSession, name, path, catalog):
        df.writeTo('%s.%s' % (catalog, name)).append()
        return
    df.write.mode('append').parquet(path)


# -- the checkpoint/resume seam (VERDICT r02 #10) -----------------------------
#
# sources.checkpoint needs exactly three table operations; with an
# Iceberg runtime each maps to one catalog call, and the parquet
# fallback reproduces the same CONTRACT (append-only, per-run pruning,
# committed-only reads via the manifest):
#
#   1. append_run_partitioned  -- append extraction output for one run.
#      Iceberg: plain snapshot append (the spec's hidden partition
#      transform on run_id clusters files); parquet: hive-style
#      ``<path>/run_id=<id>/`` directories.
#   2. read_run                -- read back ONE run's rows, pruned to
#      that run's files (Iceberg partition pruning / the run directory).
#   3. append_table (manifest) -- the COMMIT POINT.  Iceberg: the
#      manifest append is an atomic snapshot commit, closing the
#      output/manifest gap the parquet fallback documents in
#      checkpoint.read_extracted; parquet: append + committed-only
#      readers.
#
# Swapping in the runtime jar touches nothing outside this module.


def append_run_partitioned(df, name, path=None, catalog='lake'):
    """Append run-tagged rows (must carry a ``run_id`` column), laid out
    so per-run reads prune to the run's files."""
    if _uses_catalog(df.sparkSession, name, path, catalog):
        df.writeTo('%s.%s' % (catalog, name)).append()
        return
    df.write.mode('append').partitionBy('run_id').parquet(path)


def _read_runs(spark, base, *paths):
    """Parquet read of hive ``run_id=<id>`` directories under ``base``
    with ``run_id`` typed string.  Partition discovery would infer an
    all-digit id (``000000000001``, which a ``uuid4`` hex prefix can
    draw) as an integer -- dropping its leading zeros -- and
    ``<digits>e<digits>`` as a double; a manifest aggregated from such
    a read then mixes numeric and string ``run_id`` files and cannot be
    read back.  A user schema types the partition column exactly as the
    raw directory value."""
    reader = spark.read.option('basePath', base)
    inferred = reader.parquet(*paths).schema
    schema = T.StructType([
        T.StructField('run_id', T.StringType()) if f.name == 'run_id'
        else f for f in inferred])
    return reader.schema(schema).parquet(*paths)


def read_all_runs(spark, name, path=None, catalog='lake'):
    """Every run's rows, tolerant of a MIXED on-disk layout.

    The parquet fallback wrote flat ``part-*.parquet`` files with
    ``run_id`` as a data column before r03 introduced hive-partitioned
    ``run_id=<id>/`` directories.  A checkpoint base holding both (an
    old checkpoint resumed under the new code) fails Spark's partition
    discovery outright -- conflicting directory structures plus a
    duplicate ``run_id`` column (ADVICE r03).  Here the two layouts are
    listed apart and read separately, then unioned by name, ``run_id``
    a string in both (:func:`_read_runs`).  Iceberg needs
    none of this: the partition transform is table metadata, not
    directory layout.
    """
    if _uses_catalog(spark, name, path, catalog):
        return spark.read.table('%s.%s' % (catalog, name))
    entries = os.listdir(path) if os.path.isdir(path) else []
    flat = sorted(e for e in entries
                  if e.endswith('.parquet') and not e.startswith('_'))
    runs = sorted(e for e in entries if e.startswith('run_id='))
    if not (flat and runs):
        return _read_runs(spark, path, path)
    legacy = spark.read.parquet(*(os.path.join(path, f) for f in flat))
    cur = _read_runs(spark, path, *(os.path.join(path, d) for d in runs))
    return legacy.unionByName(cur, allowMissingColumns=True)


def read_run(spark, name, run_id, path=None, catalog='lake'):
    """One run's rows, reading only that run's files."""
    if _uses_catalog(spark, name, path, catalog):
        return (spark.read.table('%s.%s' % (catalog, name))
                .where(F.col('run_id') == run_id))
    return _read_runs(spark, path, os.path.join(path, 'run_id=%s' % run_id))

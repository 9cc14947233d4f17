"""Partitioning / skew strategies for the 10^12-document target.

BASELINE.json north_rule: 'explicit salting of skewed hosts,
doc_id-range repartitioning'.  Web corpora skew two ways (SURVEY.md §4):

* by host -- a handful of host prefixes own a large share of rows (the
  synthetic corpus plants 30% on one host).  A plain
  ``repartition(host)`` would put 30% of the corpus in one task;
  :func:`salt_by_host` shards each host across S salts.
* by document size -- one 10 MB page in an Arrow batch stalls the whole
  task.  :func:`bucket_by_size` routes outlier documents (bytes > p99)
  into dedicated partitions so stragglers are isolated; AQE cannot do
  this (the cost lives inside an opaque UDF, invisible to the planner).

For inference neither is *required* -- the fused pipeline is a narrow
map over whatever the scan gives us -- but they matter wherever the data
must be reorganized: writes clustered by host, the training label join,
resume-by-range.
"""

from __future__ import annotations

import pyspark.sql.functions as F

DEFAULT_SALTS = 16


def host_of(doc_id_col):
    """doc_id convention 'host/doc-...' -> host prefix ('' if none)."""
    return F.when(F.instr(doc_id_col, '/') > 0,
                  F.substring_index(doc_id_col, '/', 1)).otherwise(F.lit(''))


def salt_by_host(df, num_partitions, salts=DEFAULT_SALTS,
                 doc_id_col='doc_id'):
    """Repartition by (host, salt): co-locates each host across at most
    ``salts`` partitions while breaking the hot-host bottleneck."""
    salted = df.withColumn(
        '_salt', F.pmod(F.xxhash64(doc_id_col), F.lit(salts)))
    out = salted.repartition(num_partitions,
                             host_of(F.col(doc_id_col)), F.col('_salt'))
    return out.drop('_salt')


def probe_parquet_layout(path):
    """(row groups, total rows) of a local parquet input, or ``None``
    when it cannot be probed (non-local path, unreadable footer, a
    directory with no top-level part files or with any subdirectory,
    e.g. a hive ``key=value`` layout whose files the listing here does
    not see) -- callers must then leave the scan alone.

    The ROW GROUP is the atomic split unit (a byte-range split never
    divides one), so the row-group count BOUNDS the scan tasks that
    read rows; Spark packs a small file's row groups into one split, so
    :func:`spread_small_scan` also takes the planned split count.  With
    >= 64 part files the footers are skipped and the file count stands
    in.  Footer-only reads; no data pages are touched.
    """
    import os

    import pyarrow.parquet as pq
    try:
        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            entries = [os.path.join(path, f) for f in os.listdir(path)]
            if any(os.path.isdir(e) for e in entries):
                return None
            files = [e for e in entries if e.endswith('.parquet')]
            if not files:
                return None
            if len(files) >= 64:
                return (len(files), None)
        else:
            return None
        groups = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            groups += md.num_row_groups
            rows += md.num_rows
        return (groups, rows)
    except Exception:
        return None


def spread_small_scan(spark, df, path):
    """Adaptive scan-parallelism guard (optimization guide §2.1/§6).

    A parquet input exposing fewer row groups than the session has
    cores cannot parallelize its scan, and -- worse -- every NARROW
    stage downstream of that scan (tokenize-heavy projections,
    map-side partial aggregations, explode+hash pipelines) inherits the
    same task count: one hot core, 31 idle.  The r06 audit measured the
    single-projection corpus queries 6-10x slower on a one-row-group
    50 k-doc file than on the same rows split across ten files.

    When the achievable scan parallelism (the smaller of the row-group
    and the planned split counts; planning runs no job) is below the
    session's core count, spread the rows with ONE round-robin shuffle;
    its cost is the table's bytes, which in this regime are by
    definition at most a few row groups.  Inputs that already expose
    enough splits are returned untouched, so at production scale
    (thousands of row groups / files) this helper never shuffles and
    the scan's own splitting governs -- the scale-adaptive seam the
    guide requires instead of a constant tuned to either local mode or
    the cluster.

    Callers whose pre-shuffle work is trivial (md5-only aggregations,
    hash-bucket sample filters) should skip the guard entirely -- the
    shuffle is pure cost there.
    """
    par = spark.sparkContext.defaultParallelism
    probe = probe_parquet_layout(path)
    if probe is None:
        return df
    groups, rows = probe
    tasks = min(groups, df.rdd.getNumPartitions())
    if tasks >= par:
        return df
    if rows is None:
        # many-file input whose footers we skipped: size unknown, so a
        # blind shuffle could move arbitrary bytes -- leave it alone
        return df
    # scale the target to the row count (known from the same footer
    # probe): at ~600 rows/partition the fixed per-task Python worker
    # set-up amortizes (its measured cause and cost:
    # sources.synthesis._spread_docs), while tiny corpora stop paying
    # cores-many set-ups for a few thousand rows (sf0.1 A/B: simhash
    # 1.08 s at 32p -> 0.77 s at 8p, decontamination 1.17 -> 0.79; the
    # 50 k-doc corpus caps at cores either way)
    target = max(2, min(par, -(-rows // 600)))
    if tasks >= target:
        return df
    return df.repartition(target)


def repartition_by_doc_range(df, num_partitions, doc_id_col='doc_id'):
    """Range-repartition on doc_id: gives each output partition a
    contiguous doc_id range -- the unit of checkpoint/resume lineage
    (sources.checkpoint) and of ordered Iceberg writes."""
    return df.repartitionByRange(num_partitions, F.col(doc_id_col))


def doc_size_bytes(spans_col):
    """Total payload bytes of a span document (JVM-side, null-safe --
    a null span text must not null out the sum and silently drop the
    doc from both size buckets)."""
    return F.coalesce(
        F.aggregate(
            spans_col,
            F.lit(0).cast('long'),
            lambda acc, s: acc + F.coalesce(
                F.octet_length(s['text']).cast('long'), F.lit(0))),
        F.lit(0))


def bucket_by_size(df, num_partitions, spans_col='spans',
                   outlier_bytes=1 << 20, outlier_partitions=None):
    """Split the corpus into normal vs outlier partitions by doc size.

    Outliers (default > 1 MiB of span text) get their own partitions so
    a giant page never rides in a batch with a thousand normal pages;
    both halves stay narrow after the split.
    """
    if outlier_partitions is None:
        outlier_partitions = max(1, num_partitions // 16)
    size = doc_size_bytes(F.col(spans_col))
    tagged = df.withColumn('_oversize', size > outlier_bytes)
    normal = (tagged.where(~F.col('_oversize'))
              .repartition(num_partitions).drop('_oversize'))
    outliers = (tagged.where(F.col('_oversize'))
                .repartition(outlier_partitions).drop('_oversize'))
    return normal, outliers

"""Distributed connected components over a candidate-pair edge list.

The consumer side of every near-dup miner here: MinHash / SimHash /
embedding-LSH pairs are *edges*; duplicate clusters and template
families are their connected components.  At 10^12 docs the edge list
is linear (mega-bucket chain caps, ``dedup.py``), but the node set is
the corpus -- so the components step must itself be a DataFrame
algorithm, never a driver-side union-find (VERDICT r03 #1).

Algorithm: a per-partition seeding pass, then min-label propagation
with pointer jumping (the classic PRAM/Pregel hybrid, same family as
Kiveris et al.'s two-phase MapReduce CC).

Seeding: one ``mapInArrow`` stage over the symmetric edge checkpoint's
own partitions (:func:`partition_min_labels`) solves the graph each
partition holds, vectorized in numpy, and emits every endpoint with
the minimum id of its local component.  One ``groupBy`` over those
seeds and ``(id, id)`` per node gives each node its starting label
(and one row per repeated node id).  A local component is a connected
subset of the true one, so each seed is a member of its node's
component and no larger than its id: the invariants the rounds rely on
hold from the start, the output is still the component minimum, and
``converged`` / ``max_rounds`` keep their meaning.  When the whole edge
list sits in one partition (AQE coalesces a small pair plan to one),
the seeds are already final and the rounds only confirm them.  The pass
repartitions nothing (its one shuffle is that ``groupBy``): a variant
that first range-partitioned the edges by source, to keep chain
segments together, paid a sampling job and a shuffle and was not
faster on ``dedup_skew`` (4 cores): wall 3.14 s against 2.68 s for
this shape in a first prototype (median of 5 runs), and better in only
2 of 5 alternating pairs on the final code.

Rounds: every round

1. takes the min label over itself and its neighbors (one join +
   groupBy over the symmetric edge list), then
2. *pointer-jumps*: relabels to its label's current label
   (a self-join on the label column).

Labels are monotonically non-increasing and step 2 roughly doubles the
distance a min has traveled per round, so a component of diameter d
converges in O(log d) rounds -- and chain-capped mega-buckets emit
sorted-adjacent chains, so d is bounded by the largest bucket, not the
corpus.  Rounds are bounded (``max_rounds``) and the result carries an
explicit ``converged`` flag rather than silently returning partial
components (no silent caps).

Per round: step 1 is materialized once by an eager ``localCheckpoint``
that carries each node's previous label (``_own``) beside the new min;
an observed metric on that checkpoint counts the nodes whose label
dropped, so convergence costs no job and no join of its own.  A round
in which step 1 moved nothing has converged: labels are then constant
across every edge, hence per component, and step 2 would move nothing
either.  Otherwise step 2 joins the checkpoint to itself, so the
neighbor min is computed once per round, and is checkpointed in turn,
which also truncates lineage (on a real cluster with a checkpoint dir
configured, ``checkpoint`` gives the same plan truncation plus fault
tolerance).  Every shuffle carries O(|V| + |E|) rows of two or three
thin columns; no node- or edge-level data ever reaches the driver.
Before returning, every checkpoint but the returned labels' is freed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql.types import StructField, StructType


def _min_labels(n, a, b):
    """Component minimum of each of ``n`` dense nodes over the edges
    ``a[i] -- b[i]``: min-label propagation with root hooking and
    pointer jumping to a fixpoint.  Labels only fall and stay members
    of their node's component, so at the fixpoint (equal labels across
    every edge) each component carries its minimum."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        nxt = lab.copy()
        np.minimum.at(nxt, a, lb)
        np.minimum.at(nxt, b, la)
        # hook the labels themselves too, so a component's current
        # minimum moves in one step instead of waiting for the min to
        # walk to it hop by hop
        np.minimum.at(nxt, la, lb)
        np.minimum.at(nxt, lb, la)
        jumped = nxt[nxt]
        while not np.array_equal(jumped, nxt):
            nxt, jumped = jumped, jumped[jumped]
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def partition_min_labels(batches):
    """The seeding pass over one partition of ``(_src, _dst)`` Arrow
    batches: one ``(_id, label)`` batch holding every non-null endpoint
    and the minimum id of its component within this partition's edges.

    Endpoints are mapped to dense ints by ``np.unique``, which sorts them
    in Spark's order (numeric for longs; code-point order for strings,
    which is UTF-8 byte order), so the smallest dense index is the
    smallest id.  Memory is O(partition edges); an empty partition
    yields nothing."""
    batches = list(batches)
    if not batches:
        return
    edges = pa.Table.from_batches(batches).drop_null()
    if not edges.num_rows:
        return
    ends = pa.concat_arrays(edges['_src'].chunks + edges['_dst'].chunks)
    _, first, dense = np.unique(ends.to_numpy(zero_copy_only=False),
                                return_index=True, return_inverse=True)
    ids = ends.take(first)
    lab = _min_labels(len(ids), dense[:edges.num_rows],
                      dense[edges.num_rows:])
    yield pa.RecordBatch.from_arrays([ids, ids.take(lab)],
                                     names=['_id', 'label'])


def _observed(df, name):
    """The name-keyed ``observe`` metric the query of ``df`` ran.

    Read back from that query, not through a
    ``pyspark.sql.Observation``: on Spark 4.1 the first Observation
    gives the session a non-serializable ObservationManager, and every
    later task whose closure captures the session (an ML model's
    training summary inside its transform UDF) fails "Task not
    serializable"."""
    return (df._jdf.queryExecution().observedMetrics()
            .get(name).get().getLong(0))


def _release(checkpoint):
    """Free the blocks of a ``localCheckpoint`` frame.  ``unpersist()``
    on the frame is a no-op (the checkpoint is not in the cache
    manager); the checkpointed RDD is the one its ``LogicalRDD`` holds."""
    checkpoint._jdf.queryExecution().logical().rdd().unpersist(False)


def propagate_min_labels(nodes, edges, id_col='doc_id',
                         src_col='src', dst_col='dst', max_rounds=24,
                         report=None):
    """Connected components by seeded iterative min-label propagation.

    ``nodes``: the node ids (``id_col``; a repeated id gets one label
    row); ``edges``: undirected pairs (``src_col``, ``dst_col``) --
    each stored once, symmetrized here.  Returns ``(labels_df,
    converged)`` where ``labels_df`` is ``(id_col, label)`` with
    ``label`` = the component's minimum node id, and ``converged`` is
    False iff ``max_rounds`` elapsed with labels still moving (only
    possible when a component's diameter exceeds ~2^max_rounds -- flag
    it, don't trust the labels).

    ``report``, if given, is a dict filled with ``rounds`` (neighbor-min
    steps run), ``moved`` (labels that dropped in each of them) and
    ``seeded`` (nodes whose seed is below their own id).
    """
    # one pass emits both directions of each edge: a union of the edges
    # with their swap would run the edges' upstream (an LSH candidate
    # pipeline, typically) twice.  Materialized once: the seeding pass
    # reads it and every round re-joins it.
    sym = (edges.select(F.inline(F.array(
        F.struct(F.col(src_col).alias('_src'), F.col(dst_col).alias('_dst')),
        F.struct(F.col(dst_col).alias('_src'), F.col(src_col).alias('_dst')))))
        .localCheckpoint(eager=True))

    checkpoints = [sym]
    labels = None
    try:
        id_type = sym.schema['_src'].dataType
        seeds = sym.mapInArrow(partition_min_labels, StructType(
            [StructField('_id', id_type), StructField('label', id_type)]))
        start = (nodes.select(F.col(id_col).alias('_id'),
                              F.col(id_col).alias('label'))
                 .unionByName(seeds)
                 .groupBy('_id').agg(F.min('label').alias('label')))
        observed = start.observe('seeded', F.count_if(
            F.col('label') < F.col('_id')))
        labels = observed.localCheckpoint(eager=True)
        checkpoints.append(labels)
        seeded = _observed(observed, 'seeded')

        moves = []
        converged = False
        for _ in range(max_rounds):
            # 1. neighbor min: each node offers its label to its
            # neighbors; '_own' keeps the node's previous label (null on
            # neighbor rows, which min() skips) so the round sees what
            # moved without a second join
            nbr = (sym.join(labels.withColumnRenamed('_id', '_src'), '_src')
                   .select(F.col('_dst').alias('_id'), 'label'))
            combined = (labels.withColumn('_own', F.col('label'))
                        .unionByName(nbr, allowMissingColumns=True)
                        .groupBy('_id').agg(F.min('label').alias('label'),
                                            F.min('_own').alias('_own')))
            # a null '_own' is an edge endpoint absent from the label
            # set: it joins it this round, so that counts as a move too
            observed = combined.observe('moved', F.count_if(
                F.col('_own').isNull() | (F.col('label') < F.col('_own'))))
            combined = observed.localCheckpoint(eager=True)
            checkpoints.append(combined)
            moves.append(_observed(observed, 'moved'))
            if moves[-1] == 0:
                converged = True
                break
            # 2. pointer jump: label <- label(label).  Every label IS a
            # node id (seeds are endpoints and min() only selects
            # existing ones), and node labels never increase, so the
            # jump is monotone too.
            labels = (combined
                      .join(combined.select(F.col('_id').alias('label'),
                                            F.col('label').alias('_jl')),
                            'label', 'left')
                      .select('_id',
                              F.coalesce('_jl', 'label').alias('label'))
                      .localCheckpoint(eager=True))
            checkpoints.append(labels)
    finally:
        for checkpoint in checkpoints:
            if checkpoint is not labels:
                _release(checkpoint)
    if report is not None:
        report.update(rounds=len(moves), moved=moves, seeded=seeded)
    return labels.select(F.col('_id').alias(id_col), 'label'), converged

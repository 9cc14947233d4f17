"""Distributed connected components over a candidate-pair edge list.

The consumer side of every near-dup miner here: MinHash / SimHash /
embedding-LSH pairs are *edges*; duplicate clusters and template
families are their connected components.  At 10^12 docs the edge list
is linear (mega-bucket chain caps, ``dedup.py``), but the node set is
the corpus -- so the components step must itself be a DataFrame
algorithm, never a driver-side union-find (VERDICT r03 #1).

Algorithm: min-label propagation with pointer jumping (the classic
PRAM/Pregel hybrid, same family as Kiveris et al.'s two-phase
MapReduce CC).  Each node starts labeled with its own id; every round

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
"""

from __future__ import annotations

import pyspark.sql.functions as F


def propagate_min_labels(nodes, edges, id_col='doc_id',
                         src_col='src', dst_col='dst', max_rounds=24):
    """Connected components by iterative min-label propagation.

    ``nodes``: one row per node (``id_col``); ``edges``: undirected
    pairs (``src_col``, ``dst_col``) -- each stored once, symmetrized
    here.  Returns ``(labels_df, converged)`` where ``labels_df`` is
    ``(id_col, label)`` with ``label`` = the component's minimum node
    id, and ``converged`` is False iff ``max_rounds`` elapsed with
    labels still moving (only possible when a component's diameter
    exceeds ~2^max_rounds -- flag it, don't trust the labels).
    """
    fwd = edges.select(F.col(src_col).alias('_src'),
                       F.col(dst_col).alias('_dst'))
    # materialized once: the edge list is re-joined every round, and its
    # upstream (an LSH candidate pipeline, typically) must not re-run
    # per round
    sym = (fwd.union(fwd.select(F.col('_dst').alias('_src'),
                                F.col('_src').alias('_dst')))
           .localCheckpoint(eager=True))

    labels = (nodes.select(F.col(id_col).alias('_id'),
                           F.col(id_col).alias('label'))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_rounds):
        # 1. neighbor min: each node offers its label to its neighbors;
        # '_own' keeps the node's previous label (null on neighbor rows,
        # which min() skips) so the round sees what moved without a
        # second join
        nbr = (sym.join(labels.withColumnRenamed('_id', '_src'), '_src')
               .select(F.col('_dst').alias('_id'), 'label'))
        combined = (labels.withColumn('_own', F.col('label'))
                    .unionByName(nbr, allowMissingColumns=True)
                    .groupBy('_id').agg(F.min('label').alias('label'),
                                        F.min('_own').alias('_own')))
        # a null '_own' is an edge endpoint absent from ``nodes``: it
        # joins the label set this round, so that counts as a move too.
        # The count is a name-keyed observe read back from the query
        # the checkpoint ran, not a ``pyspark.sql.Observation``: on
        # Spark 4.1 the first Observation gives the session a
        # non-serializable ObservationManager, and every later task
        # whose closure captures the session (an ML model's training
        # summary inside its transform UDF) fails "Task not
        # serializable".
        observed = combined.observe('moved', F.count_if(
            F.col('_own').isNull() | (F.col('label') < F.col('_own'))))
        combined = observed.localCheckpoint(eager=True)
        moved = (observed._jdf.queryExecution().observedMetrics()
                 .get('moved').get().getLong(0))
        if moved == 0:
            converged = True
            break
        # 2. pointer jump: label <- label(label).  Every label IS a node
        # id (labels start as ids and min() only selects existing ones),
        # and node labels never increase, so the jump is monotone too.
        labels = (combined
                  .join(combined.select(F.col('_id').alias('label'),
                                        F.col('label').alias('_jl')),
                        'label', 'left')
                  .select('_id', F.coalesce('_jl', 'label').alias('label'))
                  .localCheckpoint(eager=True))
    return labels.select(F.col('_id').alias(id_col), 'label'), converged

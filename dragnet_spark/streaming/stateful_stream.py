"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for stateful logic Structured Streaming's built-in
aggregations can't express (per-key counters with custom merge rules,
decaying scores, dedup-with-budget): a user function receives each
key's micro-batch rows as pandas DataFrames plus a ``GroupState``
handle that persists across micro-batches in the state store.

Here: running per-user event totals -- count, exact-decimal value sum
(carried as int cents in state so accumulation order can't drift the
float), last-seen timestamp -- updated per micro-batch and emitted in
``update`` mode.  With ``maxFilesPerTrigger=1`` the source parquet
files arrive as SEPARATE micro-batches, so the final per-user row
genuinely exercises cross-batch state carry; the result must equal the
plain batch ``GROUP BY`` (the ``streaming_stateful_totals`` DuckDB
oracle).

State scale: one row (3 numbers) per distinct user -- the state store
is keyed and partitioned like any shuffle, 10^12 events with 10^8
users is ~GBs of state across executors; add a state TTL
(``GroupState.setTimeoutDuration``) when keys churn.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .window_stream import EVENTS_SCHEMA

_STATE_SCHEMA = 'n long, cents long, last_us long'
_OUT_SCHEMA = ('user_id long, n_events long, total_value double, '
               'last_seen_us long')


def _update_user_totals(key, pdfs, state):
    """Fold this micro-batch's rows for one user into running state."""
    import pandas as pd

    n, cents, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # exact cents: value carries 2-decimal precision; round each
        # ROW to int cents before summing so float repr noise (e.g.
        # 12.31 * 100 = 1230.999...) can't drift the accumulation
        cents += int(pdf['value'].mul(100).round(0)
                     .astype('int64').sum())
        ts_us = pdf['ts'].astype('datetime64[us]').astype('int64')
        last_us = max(last_us, int(ts_us.max()))
    state.update((n, cents, last_us))
    yield pd.DataFrame({
        'user_id': [key[0]],
        'n_events': [n],
        'total_value': [cents / 100.0],
        'last_seen_us': [last_us],
    })


def run_stateful_user_totals(spark, src_path, chk_path, out_path,
                             timeout='NoTimeout'):
    """availableNow over parquet, one file per micro-batch, update-mode
    parquet sink; returns the FINAL per-user totals (last emit per
    user across all micro-batches)."""
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option('maxFilesPerTrigger', 1).parquet(src_path))
    totals = (stream.groupBy('user_id').applyInPandasWithState(
        _update_user_totals, outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA, outputMode='update',
        timeoutConf=timeout))
    q = (totals.writeStream.outputMode('update')
         .option('checkpointLocation', chk_path)
         .foreachBatch(lambda df, epoch: df.withColumn(
             '_epoch', F.lit(epoch)).write.mode('append')
             .parquet(out_path))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # foreachBatch is AT-LEAST-ONCE: a retried micro-batch appends its
    # (user, epoch) rows again, so dedup on the emit key -- duplicate
    # rows are byte-identical (same state fold), never conflicting
    emitted = (spark.read.parquet(out_path)
               .dropDuplicates(['user_id', '_epoch']))
    latest = (emitted.groupBy('user_id')
              .agg(F.max('_epoch').alias('_epoch')))
    return (emitted.join(latest, ['user_id', '_epoch'])
            .drop('_epoch'))

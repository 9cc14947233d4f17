"""sklearn-style ``Extractor`` facade (reference parity:
``/root/reference/dragnet/extractor.py:12-95``).

The function-based API (``operators.extract.extract`` /
``operators.training.train_model``) is the engine; this class packages it
with the reference's ergonomics -- construct with a feature/classifier
choice, ``fit`` on documents + gold, ``extract``/``predict`` afterwards --
so a reference user can port call sites mechanically.  DataFrames replace
the reference's lists of HTML strings.

Three classifier backends:

* ``'lr'`` (default): seeded logistic regression -> a 9-coef
  :class:`~dragnet_spark.model.LogisticModel` applied inside the fused
  zero-shuffle ``mapInArrow`` inference stage.  The production path.
* ``'gbt'``: ``pyspark.ml.classification.GBTClassifier`` -- boosted
  trees when LR's linear boundary underfits.
* ``'rf'``: ``pyspark.ml.classification.RandomForestClassifier`` -- the
  closest Spark ML analogue of the reference's default
  ``ExtraTreesClassifier()`` (``/root/reference/dragnet/extractor.py:48``):
  a bagged randomized-tree ensemble (Spark samples features per split
  like ExtraTrees, bootstrap rows like RandomForest).

Tree ensembles are JVM-side Spark ML models, so inference runs through
the exploded blocks DataFrame + ``model.transform`` + a per-document
reassembly aggregation (one shuffle) instead of the fused zero-shuffle
``mapInArrow`` stage the 'lr' path uses.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .kernels.features import DEFAULT_FEATURES
from .operators.extract import extract as _extract
from .operators.labeling import gold_blocks
from .operators.training import _label_col, train_model


class Extractor:
    """fit / predict / extract over span-document DataFrames."""

    def __init__(self, to_extract=('content',), features=DEFAULT_FEATURES,
                 classifier='lr', prob_threshold=0.5, reg_param=1e-4,
                 max_iter=100, gbt_max_iter=20, gbt_max_depth=5,
                 rf_num_trees=50, rf_max_depth=10, seed=42):
        if isinstance(to_extract, str):
            to_extract = (to_extract,)
        if classifier not in ('lr', 'gbt', 'rf'):
            raise ValueError("classifier must be 'lr', 'gbt' or 'rf'")
        self.to_extract = tuple(to_extract)
        self.features = tuple(features)
        self.classifier = classifier
        self.prob_threshold = prob_threshold
        self.reg_param = reg_param
        self.max_iter = max_iter
        self.gbt_max_iter = gbt_max_iter
        self.gbt_max_depth = gbt_max_depth
        self.rf_num_trees = rf_num_trees
        self.rf_max_depth = rf_max_depth
        self.seed = seed
        self.model = None        # LogisticModel for 'lr'
        self.spark_model = None  # tree-ensemble model for 'gbt'/'rf'

    # -- training ---------------------------------------------------------
    def fit(self, spans_df, gold_df):
        """Label blocks via LCS against the gold table, then fit the
        chosen classifier (Extractor.fit, ``extractor.py:69-95`` --
        distributed instead of an in-memory concat)."""
        labeled = gold_blocks(spans_df, gold_df, features=self.features)
        return self.fit_blocks(labeled)

    def fit_blocks(self, gold_blocks_df):
        """Fit from an existing labeled-blocks DataFrame."""
        if self.classifier == 'lr':
            self.model = train_model(
                gold_blocks_df, to_extract=self.to_extract,
                reg_param=self.reg_param, max_iter=self.max_iter,
                prob_threshold=self.prob_threshold)
        else:
            from pyspark.ml.functions import array_to_vector
            df = (gold_blocks_df
                  .where(F.col('features').isNotNull())
                  .select(array_to_vector('features').alias('fv'),
                          _label_col(self.to_extract).alias('label'),
                          F.col('weight').cast('double').alias('weight'))
                  .where(F.col('label').isNotNull()))
            if self.classifier == 'gbt':
                from pyspark.ml.classification import GBTClassifier
                est = GBTClassifier(featuresCol='fv', labelCol='label',
                                    weightCol='weight',
                                    maxIter=self.gbt_max_iter,
                                    maxDepth=self.gbt_max_depth,
                                    seed=self.seed)
            else:
                from pyspark.ml.classification import (
                    RandomForestClassifier)
                est = RandomForestClassifier(
                    featuresCol='fv', labelCol='label', weightCol='weight',
                    numTrees=self.rf_num_trees,
                    maxDepth=self.rf_max_depth,
                    featureSubsetStrategy='sqrt', seed=self.seed)
            self.spark_model = est.fit(df)
        return self

    # -- introspection ----------------------------------------------------
    def feature_importances(self, gold_blocks_df=None):
        """Per-feature importances as ``[(name, importance)]`` summing
        to 1 (reference paper Table 2 style).

        * ``'gbt'`` / ``'rf'``: Spark ML's impurity-based
          ``featureImportances``.
        * ``'lr'``: standardized-coefficient magnitudes
          ``|coef_i| * std_i`` -- requires ``gold_blocks_df`` to measure
          the per-feature stds (JVM-side aggregation); without it, raw
          ``|coef_i|`` with a comparability caveat (features are on
          different scales).
        """
        import numpy as np

        from .kernels.features import feature_names
        names = feature_names(self.features)
        if self.classifier in ('gbt', 'rf'):
            self._require_fitted()
            imp = np.asarray(self.spark_model.featureImportances.toArray())
        else:
            self._require_fitted()
            imp = np.abs(self.model.coef)
            if gold_blocks_df is not None:
                stds = (gold_blocks_df
                        .where(F.col('features').isNotNull())
                        .select(*[F.stddev(F.col('features')[i])
                                  .alias('s%d' % i)
                                  for i in range(len(names))])
                        .first())
                imp = imp * np.array([stds['s%d' % i] or 0.0
                                      for i in range(len(names))])
        total = imp.sum()
        if total > 0:
            imp = imp / total
        return list(zip(names, [float(v) for v in imp]))

    # -- inference --------------------------------------------------------
    def _require_fitted(self):
        if self.classifier == 'lr' and self.model is None:
            from .model import default_model
            self.model = default_model(self.to_extract)
        if self.classifier in ('gbt', 'rf') and self.spark_model is None:
            raise ValueError('%s Extractor is not fitted' % self.classifier)

    def predict(self, spans_df):
        """Per-block predictions (Extractor.predict): the exploded blocks
        DataFrame with a ``pred`` column."""
        self._require_fitted()
        if self.classifier == 'lr':
            from .operators.blocks_df import blockify_df
            return blockify_df(spans_df, model=self.model,
                               features=self.features)
        return self._tree_blocks(spans_df)

    def _tree_blocks(self, spans_df):
        from pyspark.ml.functions import array_to_vector
        from .operators.blocks_df import blockify_df
        blocks = blockify_df(spans_df, features=self.features)
        # Score only feature-bearing blocks, then left-join the preds back
        # so the tree and lr backends return the SAME per-block row set:
        # unscorable blocks (empty/short docs) keep pred=0, mirroring
        # doc_to_block_rows' preds-None fallback on the lr path.
        scored = (self.spark_model.transform(
            blocks.where(F.size('features') > 0)
            .withColumn('fv', array_to_vector('features')))
            .select('doc_id', 'block_idx',
                    F.col('prediction').cast('int').alias('_tree_pred')))
        return (blocks.join(scored, ['doc_id', 'block_idx'], 'left')
                .withColumn('pred', F.coalesce('_tree_pred', F.lit(0)))
                .drop('_tree_pred'))

    def extract(self, spans_df, as_blocks=False):
        """Assembled extraction (Extractor.extract).

        ``as_blocks=False`` -> (doc_id, spans, content_text, status) via
        the fused stage for 'lr', or (doc_id, content_text) via the
        blocks-DataFrame path for 'gbt'; ``as_blocks=True`` -> the
        per-block view (the reference returns Block objects)."""
        self._require_fitted()
        if as_blocks:
            return self.predict(spans_df)
        if self.classifier == 'lr':
            return _extract(spans_df, model=self.model,
                            features=self.features,
                            to_extract=self.to_extract)
        kept = self._tree_blocks(spans_df).where(F.col('pred') == 1)
        assembled = (kept.groupBy('doc_id').agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct('block_idx', 'text'))),
                    lambda e: e['text']),
                '\n').alias('content_text')))
        all_docs = spans_df.select('doc_id').distinct()
        return (all_docs.join(assembled, 'doc_id', 'left')
                .select('doc_id',
                        F.coalesce('content_text', F.lit(''))
                        .alias('content_text')))

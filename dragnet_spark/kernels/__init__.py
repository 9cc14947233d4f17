"""Spark-free, unit-testable kernels (imported inside Arrow UDF batches).

This split is the core architecture decision (SURVEY.md §7): kernels are
plain Python/NumPy so the reference's hand-computed unit vectors run
without a SparkSession, and the same code ships to executors via
``spark-submit --py-files``.
"""

from .blocks import (  # noqa: F401
    BLACKLIST, BLOCKS, Block, BlockifyError, blockify, guess_encoding,
    simple_tokenizer,
)
from .lcs import longest_common_subsequence  # noqa: F401
from .metrics import (  # noqa: F401
    block_level_metrics, dameraulevenshtein, evaluation_metrics,
)

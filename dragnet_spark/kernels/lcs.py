"""Longest-common-subsequence labeling kernel.

Re-derivation of ``/root/reference/dragnet/lcs.pyx`` using a vectorized
NumPy row recurrence instead of the Cython double loop:

``C[i, j] = max(C[i-1, j], C[i, j-1], C[i-1, j-1] + (X[i-1]==Y[j-1]))``

Rows are non-decreasing in ``j``, so the in-row dependency resolves with a
single ``np.maximum.accumulate`` -- O(m) vectorized row updates.  The
backtrack in :func:`check_inclusion_ex` replicates the reference's exact
tie-breaking (``lcs.pyx:88-103``: prefer moving ``j`` when
``C[i][j-1] >= C[i-1][j]``) so the chosen LCS -- and therefore the derived
block labels -- are bit-identical.

Memory/time bounds (SURVEY.md §4).  The reference materializes the full
``(m+1, n+1)`` uint16 matrix and *asserts* below 65k tokens
(``lcs.pyx:30-33``); one huge web document must not kill an executor, so:

* ``m*n <= MAX_TOKENS**2`` (67M cells, <=134 MB): full-matrix backtrack,
  bit-identical to the reference.  This covers every document either side
  of which fits the reference's own practical range.
* ``m*n <= CELL_BUDGET`` (537M cells): Hirschberg divide-and-conquer in
  O(m+n) space -- a 65k-token document against an 8k-token gold labels
  *fully* with a few MB of live memory.  LCS length (hence labels) is
  exact; in rare ambiguous-tie cases the chosen member set can differ
  from the reference's backtrack (the reference asserts out above 65k
  tokens, so there is no parity target in this regime).
* beyond ``CELL_BUDGET``: O(m*n) *time* is the real bound (a 500k x 500k
  pair is ~2.5e11 cell ops regardless of space), so work is capped.
  Tokens past the document cap are *unknown*, never unmatched.  Long
  GOLD (> ``MAX_TOKENS``) no longer voids the whole document (the r03
  behavior VERDICT r03 #5 flagged): the gold side is chunked into
  overlapping windows (``GOLD_WINDOW``/``GOLD_OVERLAP``) and the
  per-window inclusion flags are unioned, so every gold token is seen
  and long-gold documents keep real labels.  The union relaxes LCS's
  *global* ordering to per-window ordering -- a token can match
  out-of-global-order across windows -- which can only mark extra
  tokens, never lose true matches whose context fits a window; the
  reference asserts out above 65k tokens, so there is no parity target
  here.  The document cap shrinks to ``CELL_BUDGET / (window *
  n_windows)`` to keep total work bounded; only past ``MAX_GOLD_WINDOWS``
  (~123k gold tokens) does gold truncation -- and the all-unknown
  contract -- kick back in.  ``check_inclusion_ex`` reports coverage and
  truncation; ``operators/labeling.py`` emits null fracs/labels
  accordingly plus a ``truncated`` flag.
"""

from __future__ import annotations

import numpy as np

MAX_TOKENS = 8192
# Hard per-(doc, gold) DP budget: ~537M cells keeps worst-case labeling
# of one pathological document to single-digit seconds on one core.
CELL_BUDGET = MAX_TOKENS * 65536
# Subproblem size below which Hirschberg falls back to the full-matrix
# backtrack (4M cells = 8 MB uint16).
_BASE_CELLS = 1 << 22
# Long-gold windowing: gold beyond MAX_TOKENS is scored window by
# window and the flags unioned.  The overlap keeps matches whose
# context straddles a boundary discoverable in the next window.
GOLD_WINDOW = MAX_TOKENS
GOLD_OVERLAP = 512
MAX_GOLD_WINDOWS = 16


def _encode(x, y):
    """Token -> int codes (vocab over x; y tokens absent from x -> -1)."""
    vocab = {}
    for tok in x:
        if tok not in vocab:
            vocab[tok] = len(vocab)
    xc = np.fromiter((vocab[t] for t in x), dtype=np.int64, count=len(x))
    yc = np.fromiter((vocab.get(t, -1) for t in y), dtype=np.int64,
                     count=len(y))
    return xc, yc


def _matrix(xc, yc):
    """Full (m+1, n+1) uint16 LCS matrix over code arrays.

    Values are bounded by min(m, n) <= sqrt(m*n) <= MAX_TOKENS whenever
    this path is taken, so uint16 is safe.
    """
    m = len(xc)
    n = len(yc)
    c = np.zeros((m + 1, n + 1), dtype=np.uint16)
    if m == 0 or n == 0:
        return c
    y_codes = set(yc.tolist())
    y_codes.discard(-1)
    for i in range(1, m + 1):
        prev = c[i - 1]
        xi = xc[i - 1]
        if xi not in y_codes:
            # x_i never matches: the row equals the previous row (the
            # standard LCS identity) -- one memcpy instead of five
            # vector ops.  Boilerplate-heavy documents skip most rows.
            c[i] = prev
            continue
        match = yc == xi
        cand = np.where(match, prev[:-1] + 1, prev[1:])
        row = np.maximum(prev[1:], cand)
        np.maximum.accumulate(row, out=row)
        c[i, 1:] = row
    return c


def longest_common_subsequence(x, y):
    """Full (m+1, n+1) uint16 LCS matrix over token lists."""
    if len(x) == 0 or len(y) == 0:
        return np.zeros((len(x) + 1, len(y) + 1), dtype=np.uint16)
    xc, yc = _encode(x, y)
    return _matrix(xc, yc)


def _backtrack(x, y, xc, yc):
    """Reference-tie-break backtrack over the full matrix
    (lcs.pyx:78-103; vector pinned by tests/test_features.py)."""
    c = _matrix(xc, yc)
    i = len(x)
    j = len(y)
    ret = []
    while i > 0 or j > 0:
        if i > 0 and j > 0 and x[i - 1] == y[j - 1]:
            ret.append(True)
            i -= 1
            j -= 1
        elif j > 0 and (i == 0 or c[i][j - 1] >= c[i - 1][j]):
            j -= 1
        elif i > 0 and (j == 0 or c[i][j - 1] < c[i - 1][j]):
            ret.append(False)
            i -= 1
    ret.reverse()
    return ret


def _last_row(xc, yc):
    """Last row of the LCS matrix in O(n) space (int32)."""
    n = len(yc)
    prev = np.zeros(n + 1, dtype=np.int32)
    if n == 0 or len(xc) == 0:
        return prev
    y_codes = set(yc.tolist())
    y_codes.discard(-1)
    cur = np.empty(n + 1, dtype=np.int32)
    cur[0] = 0
    for xi in xc:
        if xi not in y_codes:
            continue
        match = yc == xi
        cand = np.where(match, prev[:-1] + 1, prev[1:])
        row = np.maximum(prev[1:], cand)
        np.maximum.accumulate(row, out=row)
        cur[1:] = row
        prev, cur = cur, prev
        cur[0] = 0
    return prev


def _hirschberg(x, y, xc, yc, out):
    """Append inclusion flags for ``x`` vs ``y`` to ``out`` using
    linear-space divide and conquer (Hirschberg 1975, CACM 18(6)).

    Subproblems small enough for the full matrix use the exact
    reference backtrack, so tie-breaking matches the reference
    everywhere except across the (rare) ambiguous split boundaries of
    oversized documents.
    """
    m = len(x)
    n = len(y)
    if m == 0:
        return
    if n == 0:
        out.extend([False] * m)
        return
    if m * n <= _BASE_CELLS or m <= 2:
        out.extend(_backtrack(x, y, xc, yc))
        return
    mid = m // 2
    l1 = _last_row(xc[:mid], yc)
    l2 = _last_row(xc[mid:][::-1], yc[::-1])
    k = int(np.argmax(l1 + l2[::-1]))
    _hirschberg(x[:mid], y[:k], xc[:mid], yc[:k], out)
    _hirschberg(x[mid:], y[k:], xc[mid:], yc[k:], out)


def _inclusion(xs, ys):
    """Inclusion flags for ``xs`` vs ``ys``, full-matrix backtrack when
    it fits, Hirschberg otherwise."""
    xc, yc = _encode(xs, ys)
    if len(xs) * len(ys) <= MAX_TOKENS * MAX_TOKENS:
        return _backtrack(xs, ys, xc, yc)
    flags = []
    _hirschberg(xs, ys, xc, yc, flags)
    return flags


def check_inclusion_ex(x, y):
    """For each covered token of ``x``: is it part of the LCS with ``y``?

    Returns ``(flags, x_covered, gold_truncated)``:

    * ``flags`` -- inclusion booleans for ``x[:x_covered]``,
    * ``x_covered`` -- how many leading document tokens were scored
      (tokens past it are *unknown*, never unmatched),
    * ``gold_truncated`` -- True when ``y`` could not be fully seen
      (beyond ``MAX_GOLD_WINDOWS`` windows), in which case every flag
      is unreliable (a token matching past the seen gold reads as
      unmatched) and callers must treat all derived fractions as
      unknown.  Long-but-windowable gold (``MAX_TOKENS`` < len(y) <=
      ~``MAX_GOLD_WINDOWS * GOLD_WINDOW``) is fully seen via
      overlapping windows and is NOT truncation: flags are the union of
      per-window LCS inclusion (module docstring).
    """
    m = len(x)
    n = len(y)
    if n == 0:
        return [False] * m, m, False
    if m == 0:
        return [], 0, False
    if m * n <= CELL_BUDGET:
        return _inclusion(x, y), m, False
    if n <= MAX_TOKENS:
        x_cap = min(m, CELL_BUDGET // n)
        return _inclusion(x[:x_cap], y), x_cap, False
    # long gold: overlapping windows, flags unioned
    step = GOLD_WINDOW - GOLD_OVERLAP
    starts = list(range(0, n, step))[:MAX_GOLD_WINDOWS]
    if starts[-1] + GOLD_WINDOW < n:
        # gold too long even for windowing: callers null every label on
        # gold truncation, so don't burn the window budget computing
        # flags that will be discarded -- one capped pass, flagged
        x_cap = min(m, CELL_BUDGET // MAX_TOKENS)
        return _inclusion(x[:x_cap], y[:MAX_TOKENS]), x_cap, True
    x_cap = min(m, max(CELL_BUDGET // (GOLD_WINDOW * len(starts)), 64))
    xs = x[:x_cap]
    acc = np.zeros(x_cap, dtype=bool)
    for s in starts:
        flags = _inclusion(xs, y[s:s + GOLD_WINDOW])
        acc |= np.asarray(flags, dtype=bool)
    return acc.tolist(), x_cap, False

"""Text column expressions (tokenization, shingling).

Whitespace tokenization matches the fixture corpus; swap the pattern
for a BPE-ish regex (`F.split(col, r"\\s+|(?=[^\\w\\s])")`) for real
text without touching any operator built on these.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """array<string> of whitespace tokens."""
    return F.split(text, " ")


def ngram_shingles_of(toks: Column | str, k: int) -> Column:
    """array<string> of distinct k-word shingles from an ALREADY-BOUND
    tokens column (empty below k tokens).

    `toks` must be a materialized column attribute, not an inline
    `split(...)` expression: Spark does not hoist loop-invariant
    subexpressions out of higher-order-function lambdas, so an inline
    split re-tokenizes the document once PER SHINGLE POSITION —
    O(n_tokens² · doc_len) per document. Measured on the 50k-doc
    sf1.0 corpus: 13.7 s inline vs 2.9 s bound (4.7×), identical rows.

    The position sequence is guarded: Spark's sequence(1, n) runs
    BACKWARDS for n < 1, so short documents get an explicit empty
    array instead of a descending-range surprise.
    """
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " ")))

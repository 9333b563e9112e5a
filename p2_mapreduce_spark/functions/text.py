"""Tokenization primitives — the reference's only scalar functions.

Contract (reference mapreduce/functions/wordcount.go:20-37): split the text
on every rune that is neither a Unicode letter nor a Unicode digit
(``unicode.IsLetter`` / ``unicode.IsNumber``), lowercase each token, drop
empties.  Go's rune classes map exactly to the regex classes ``\\p{L}`` and
``\\p{N}`` (both cover L*/N* general categories), which Java regex (Spark)
and RE2 (DuckDB oracle) share — so the same pattern is usable on both sides
of the correctness gate.

Order of operations matters for exotic scripts: the reference splits FIRST
and lowercases each token after; lowering first could change letter-ness
(e.g. Turkish dotted-I decompositions). We split-then-lower to match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Split on runs of non-letter/non-digit, Unicode-aware (wordcount.go:22-25).
TOKEN_SPLIT_REGEX = r"[^\p{L}\p{N}]+"


def tokens_array(text: Column | str) -> Column:
    """``array<string>`` of lowercased tokens, empties removed.

    Pure built-in expression chain (split → transform → filter): stays in
    whole-stage codegen, no Python involved — the 100 TB hot path.
    """
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(col, TOKEN_SPLIT_REGEX)
    toks = F.transform(toks, F.lower)
    return F.filter(toks, lambda t: t != F.lit(""))


def token_ngrams(
    text: Column | str, n: int, gram: Callable[[Column], Column]
) -> Column:
    """``gram(window)`` for every n-token window of :func:`tokens_array`,
    in document order, duplicates kept; empty for null or empty text and
    for documents with fewer than ``n`` tokens.

    The token array is bound ONCE per row by a one-element ``transform``
    (a let-binding).  Catalyst does no common-subexpression elimination
    inside higher-order-function lambdas, so naming the tokenizer in the
    window lambda would re-split the document per window — quadratic in
    tokens.  This is the one place that rule lives for n-gram builders."""
    return F.element_at(
        F.transform(
            F.array(tokens_array(text)),
            lambda t: F.when(
                # sequence(1, stop < 1) counts DOWN: guard short documents
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: gram(F.slice(t, i, n)),
                ),
                # empty with nullable elements: typed as each builder's
                # former CAST(array() AS ARRAY<T>) branch
            ).otherwise(F.slice(F.array(F.lit(None)), 1, 0)),
        ),
        1,
    )


def tokenize_column(text: Column | str) -> Column:
    """Exploded token column (one row per token) — the map half of word
    count (reference M1+M2). Use ``F.explode(tokens_array(c))`` inline when
    composing; provided for readability."""
    return F.explode(tokens_array(text))

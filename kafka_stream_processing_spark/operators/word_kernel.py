"""Shared word-token kernel for the text, corpus, dedup, tokenizer and
LM operator families (and the streaming monitors built on them).

Every operator in those families starts from the same decision: a
document's words are its text split on single spaces, with no
normalization.  Double spaces therefore make empty tokens, and ``""``
is one empty word.  The DuckDB oracles spell the same split
``string_split(text, ' ')``.  This module is that decision's only home.

Kernels:

- ``words(col)``: the whitespace split, the package's only
  ``F.split``; lowercased callers pass ``F.lower(...)``.
- ``split_words(d, *cols)``: project the split ONCE as column
  ``words`` before a gram or shingle builder.  Generate and the
  higher-order lambdas are not subexpression-eliminated, so an inline
  split inside ``_word_grams`` would re-tokenize per textual
  occurrence (``tests/test_plans.py::
  test_shingle_pipelines_split_text_once``).
- ``_word_grams(toks, n)``: every space-joined word n-gram of a token
  array, in order, duplicates kept (wrap in ``F.array_distinct`` for
  shingle sets); ``_GRAMS_SQL`` is the oracle twin for n = 3.
- ``_gram_rows(d, n, *carry, bos=None)``: one row per word n-gram with
  columns ``w1..wn`` (the carried columns first); ``bos`` pads the
  front with n - 1 sentinels, as the back-off LMs count their first
  words.
- ``_word_counts(d, *by, word="w", count="c")``: the exploded word
  occurrences counted per word within ``by``.

Imports only pyspark, so any operator module can use it without an
import cycle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: DuckDB expression for all (non-distinct) word-3-gram occurrences of a
#: token list ``t`` — the same construction as dedup.JACCARD_ORACLE's
#: shingle CTE minus the DISTINCT.
_GRAMS_SQL = (
    "list_transform(range(1, greatest(len(t) - 1, 1)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


def words(col: str | Column = "text") -> Column:
    """The words of a text column: split on single spaces."""
    return F.split(col, " ")


def split_words(d: DataFrame, *cols: str) -> DataFrame:
    """Project the whitespace tokenization ONCE (column ``words``) before
    shingle/gram building.  Generate (explode) is not whole-stage-codegen'd,
    so an inlined ``split(text)`` inside the gram ``transform`` is
    re-evaluated for each of its ~5 textual occurrences per row (guide §4:
    project before opaque ops; measured 1.71 s → 1.16 s on the minhash
    signature stage at sf0.1)."""
    return d.select(*cols, words().alias("words"))


def _word_grams(toks: Column, n: int = 3) -> Column:
    """ALL word n-gram occurrences of ``toks``, space-joined, in order.
    NB: Spark's sequence(1, k) DESCENDS when k < 1, so a token array
    shorter than n short-circuits to an empty array.  Pass a
    pre-projected array COLUMN (see ``split_words``) where the builder
    feeds an explode, not an inline ``words()`` — the expression would
    be inlined ~5×."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + off) for off in range(n)]
    )
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def _gram_rows(
    d: DataFrame, n: int, *carry: str, bos: str | None = None
) -> DataFrame:
    """One row per word n-gram of ``d.text``: the ``carry`` columns, then
    ``w1..wn``.  With ``bos`` the words are prefixed by n - 1 copies of
    the sentinel, so every document yields at least one gram; without
    it, documents of fewer than n words yield none."""
    t = words()
    if bos is not None:
        t = F.concat(F.array(*[F.lit(bos)] * (n - 1)), t)
    toks = d.select(*carry, t.alias("t"))
    if bos is None:
        toks = toks.filter(F.size("t") >= n)
    k = F.size("t") - (n - 1)
    ws = [f"w{i}" for i in range(1, n + 1)]
    zipped = F.arrays_zip(
        *[F.slice("t", i, k).alias(w) for i, w in enumerate(ws, 1)]
    )
    return toks.select(*carry, F.explode(zipped).alias("p")).select(
        *carry, *[F.col(f"p.{w}").alias(w) for w in ws]
    )


def _word_counts(
    d: DataFrame, *by: str, word: str = "w", count: str = "c"
) -> DataFrame:
    """Word occurrence counts of ``d.text`` per (``by``, word): columns
    ``by..``, ``word``, ``count``."""
    occ = d.select(*by, F.explode(words()).alias(word))
    return occ.groupBy(*by, word).agg(F.count(F.lit(1)).alias(count))

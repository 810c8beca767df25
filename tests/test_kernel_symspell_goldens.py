"""End-to-end kernel goldens — every exact value from the reference test
suite (src/js/__tests__/SpellcheckerWasm.spec.ts, language_tests_map.json,
lib.rs) reproduced against our pure-Python kernel."""

import json
import os

import pytest

from spellchecker_wasm_spark.kernels import (
    SymSpellKernel, Verbosity, osa_distance_max)
from spellchecker_wasm_spark.kernels.symspell import ingest_wasm_stream
from tests.conftest import REFERENCE_TESTS, read_reference_dictionary


def test_rust_unit_golden_mispelle():
    """lib.rs:45-66 — full-line ingest (no WASM truncation): 'mispelle' at
    Closest/2 yields exactly 8 suggestions, result[1] == 'misspelled'."""
    k = SymSpellKernel(2, 7, 1)
    data = read_reference_dictionary("frequency_dictionary_en_82_765.txt.gz")
    for line in data.decode("utf-8").splitlines():
        k.write_line_to_dictionary(line, " ")
    result = k.lookup("mispelle", Verbosity.CLOSEST, 2, False, False)
    assert len(result) == 8
    assert result[1].term == "misspelled"


def test_golden_acheive(en_gb_kernel):
    # SpellcheckerWasm.spec.ts:62-72 / language_tests_map.json en_GB
    r = en_gb_kernel.lookup("acheive!", Verbosity.CLOSEST, 2, False, False)
    assert (r[0].term, r[0].distance, r[0].count) == ("achieve", 2, 2733276)


def test_golden_creche(en_gb_kernel):
    # accented char lookup (spec.ts:89-100)
    r = en_gb_kernel.lookup("crèche", Verbosity.CLOSEST, 2, False, False)
    assert (r[0].term, r[0].distance, r[0].count) == ("creche", 1, 19317)


def test_golden_asdf_before_and_after_write(en_gb_kernel):
    # spec.ts:74-87 — 49 suggestions, then 0 once 'asdf' is a known word.
    r = en_gb_kernel.lookup("asdf", Verbosity.CLOSEST, 2, False, False)
    assert len(r) == 49
    k2 = SymSpellKernel(2, 7, 1)
    k2.words.update(en_gb_kernel.words)
    k2.deletes = {d: list(v) for d, v in en_gb_kernel.deletes.items()}
    k2.max_dictionary_word_length = en_gb_kernel.max_dictionary_word_length
    # WASM splitter truncates to "asdf 1000" — still becomes a known word
    ingest_wasm_stream(k2, b"asdf 10000\n")
    assert k2.lookup("asdf", Verbosity.CLOSEST, 2, False, False) == []


def test_golden_misspellings_corpus(en_gb_kernel):
    """spec.ts:17-42 — for all 170 corpus entries the correct spelling
    appears among suggestions (containment, not position)."""
    path = os.path.join(REFERENCE_TESTS, "commonMisspellings_en_82_765.json")
    corpus = json.load(open(path))
    assert len(corpus) == 170
    misses = []
    for entry in corpus:
        correct = entry["correctSpelling"].lower()
        for word in entry["misspellings"]:
            r = en_gb_kernel.lookup(word.lower(), Verbosity.CLOSEST, 2,
                                    False, False)
            if correct not in [s.term for s in r]:
                misses.append((word, correct))
    assert not misses, misses


@pytest.fixture(scope="module")
def en_gb_med7():
    """Custom-options kernel (spec.ts:102-134): dictionaryEditDistance=7,
    countThreshold=2.  Building the full 82k-word med-7 index in Python is
    ~10M postings, so the dictionary is pre-filtered to words within OSA
    distance 4 of the probe inputs — lossless for these lookups because
    every candidate the full engine could emit at maxEditDistance=4 is a
    word at distance ≤4, and thresholding runs inside the kernel."""
    data = read_reference_dictionary("frequency_dictionary_en_82_765.txt.gz")
    k = SymSpellKernel(7, 7, 2)
    keep_near = ("cofvfee", "eradicate")
    lines = []
    for line in data.decode("utf-8").splitlines():
        term = line.split(" ", 1)[0]
        if any(osa_distance_max(term, probe, 4) is not None
               for probe in keep_near):
            lines.append(line)
    ingest_wasm_stream(k, ("\n".join(lines) + "\n").encode())
    return k


def test_golden_custom_options_cofvfee(en_gb_med7):
    # spec.ts:102-117: verbosity=Closest(1), maxEditDistance=4
    r = en_gb_med7.lookup("cofvfee", Verbosity.CLOSEST, 4, False, False)
    assert (r[0].term, r[0].distance, r[0].count) == ("coffee", 1, 4208682)


def test_golden_include_self_eradicate(en_gb_med7):
    # spec.ts:119-134
    r = en_gb_med7.lookup("eradicate", Verbosity.CLOSEST, 4, False, True)
    assert (r[0].term, r[0].distance, r[0].count) == ("eradicate", 0, 85274)


def test_golden_russian_multibyte():
    # spec.ts:138-150 — multi-byte UTF-8 dictionary
    k = SymSpellKernel(2, 7, 1)
    with open(os.path.join(REFERENCE_TESTS, "small_dictionary_ru.txt"), "rb") as f:
        ingest_wasm_stream(k, f.read())
    r = k.lookup("свойй", Verbosity.CLOSEST, 2, False, False)
    assert (r[0].term, r[0].distance, r[0].count) == ("свой", 1, 28678)


def test_golden_compound_sentence(en_gb_kernel_with_bigrams):
    # spec.ts:44-60 — exact compound output {term, distance 5, count 0}
    r = en_gb_kernel_with_bigrams.lookup_compound(
        "begining sentances with misspeled words is outragous and mischievious", 2)
    assert len(r) == 1
    assert r[0].term == ("beginning sentences with misspelled words is "
                         "outrageous and mischievous")
    assert r[0].distance == 5
    assert r[0].count == 0


def test_verbosity_policies(en_gb_kernel):
    top = en_gb_kernel.lookup("acheive", Verbosity.TOP, 2, False, False)
    closest = en_gb_kernel.lookup("acheive", Verbosity.CLOSEST, 2, False, False)
    al = en_gb_kernel.lookup("acheive", Verbosity.ALL, 2, False, False)
    assert len(top) == 1
    assert top[0].term == closest[0].term == "achieve"
    mind = min(s.distance for s in al)
    assert {s.term for s in closest} == {s.term for s in al if s.distance == mind}
    # Verbosity::All sorts distance DESCENDING (sym_spell.rs:508-515 quirk)
    assert [s.distance for s in al] == sorted((s.distance for s in al), reverse=True)


def test_include_unknown_fallback(en_gb_kernel):
    r = en_gb_kernel.lookup("qqqqqqqqq", Verbosity.CLOSEST, 2, True, False)
    assert (r[0].term, r[0].distance, r[0].count) == ("qqqqqqqqq", 3, 0)


def test_one_char_input_no_suggestions(en_gb_kernel):
    # input_len < max_edit_distance guard (sym_spell.rs:306)
    assert en_gb_kernel.lookup("q", Verbosity.CLOSEST, 2, False, False) == []


def test_count_threshold_promotion():
    # sym_spell.rs:109-133 staged promotion
    k = SymSpellKernel(2, 7, 3)
    k.create_dictionary_entry("hello", 1)
    assert "hello" not in k.words
    k.create_dictionary_entry("hello", 1)
    assert "hello" not in k.words
    k.create_dictionary_entry("hello", 1)
    assert k.words["hello"] == 3


def test_word_segmentation_classic_goldens(en_gb_kernel):
    """The intended word_segmentation semantics (the reference's own is
    unreachable dead code — sym_spell.rs:692-775) on SymSpell's canonical
    examples over the en dictionary."""
    k = en_gb_kernel
    s, c, d, _ = k.word_segmentation(
        "thequickbrownfoxjumpsoverthelazydog", 0)
    assert s == c == "the quick brown fox jumps over the lazy dog"
    assert d == 8  # 8 inserted spaces
    s, c, d, _ = k.word_segmentation(
        "itwasabrightcolddayinaprilandtheclockswerestrikingthirteen", 0)
    assert s == c == ("it was a bright cold day in april and the clocks "
                      "were striking thirteen")
    # med=2: a misplaced space is repaired through fuzzy part lookup
    s, c, d, _ = k.word_segmentation(
        "thequickbrownfoxjumpsoverthelaz ydog", 2)
    assert c == "the quick brown fox jumps over the lazy dog"
    assert k.word_segmentation("", 0) == ("", "", 0, 0.0)


def test_word_segmentation_roundtrip_property(en_gb_kernel):
    """Invariant at med=0: the segmented string is the input plus inserted
    spaces (distance == number of insertions), and corrections are
    identity."""
    import itertools
    words = ["the", "quick", "brown", "fox", "house", "boat", "a", "in"]
    for ws in itertools.islice(itertools.permutations(words, 3), 0, 30, 3):
        joined = "".join(ws)
        s, c, d, _ = en_gb_kernel.word_segmentation(joined, 0)
        assert s.replace(" ", "") == joined
        assert d == s.count(" ")
        assert c == s


def test_word_segmentation_russian_multibyte():
    """Segmentation over the multi-byte UTF-8 dictionary: codepoint
    windows, not bytes."""
    k = SymSpellKernel(2, 7, 1)
    with open(os.path.join(REFERENCE_TESTS, "small_dictionary_ru.txt"),
              "rb") as f:
        ingest_wasm_stream(k, f.read())
    s, c, d, _ = k.word_segmentation("человекговорить", 0)
    assert s == c == "человек говорить"
    assert d == 1
    s, c, d, _ = k.word_segmentation("свойвремя", 0)
    assert s == c == "свой время"


def test_combi_bound_tightening_matches_reference(en_gb_kernel_with_bigrams):
    """lookup_compound's tightened combi probe (med' =
    min(med, best1.distance + best2.distance - 1)) must produce
    byte-identical corrections to the reference-shaped unconditional
    lookup(combi, med) across sentences that exercise every distance
    regime: clean adjacent pairs (distance 0 — probe skipped), one-edit
    neighbors (distance 1-2 — dictionary probe / bound-1 scan), unknown
    terms (distance >= 3 — full BFS), and genuine merge errors the
    combi branch must still win."""
    import hashlib

    from spellchecker_wasm_spark.kernels import symspell as sy

    k = en_gb_kernel_with_bigrams
    words = sorted(k.words)[1000:1400]

    def h(*parts):
        return int(hashlib.md5(":".join(map(str, parts)).encode())
                   .hexdigest()[:8], 16)

    sentences = []
    for i in range(120):
        toks = []
        for j in range(6):
            w = words[h(i, j) % len(words)]
            r = h(i, j, "op") % 5
            if r == 0 and len(w) > 4:                    # delete one char
                p = h(i, j, "p") % len(w)
                w = w[:p] + w[p + 1:]
            elif r == 1 and len(w) > 4:                  # swap adjacent
                p = h(i, j, "p") % (len(w) - 1)
                w = w[:p] + w[p + 1] + w[p] + w[p + 2:]
            elif r == 2 and h(i, j, "u") % 3 == 0:       # unknown junk
                w = "xq" + w + "zv"
            toks.append(w)
        s = " ".join(toks)
        if h(i, "merge") % 3 == 0:                       # drop one space
            sp = [p for p, c in enumerate(s) if c == " "]
            p = sp[h(i, "mp") % len(sp)]
            s = s[:p] + s[p + 1:]
        sentences.append(s)
    sentences.append("begining sentances with misspeled words is "
                     "outragous and mischievious")

    results = {}
    for tighten in (False, True):
        sy._COMBI_TIGHTEN = tighten
        k._top_cache.clear()
        try:
            results[tighten] = [
                (r[0].term, r[0].distance, r[0].count)
                for r in (k.lookup_compound(s, 2) for s in sentences)]
        finally:
            sy._COMBI_TIGHTEN = True
    k._top_cache.clear()
    for s, ref, fast in zip(sentences, results[False], results[True]):
        assert ref == fast, s


def test_fast_top_paths_match_lookup(en_gb_kernel):
    """The tiered fast path (_lookup_top_fast) must be result-identical
    to lookup(term, Top, med, False, True) — including quirk branches,
    tie-breaks, and empty results — across dictionary words, corrupted
    variants, merged pairs, split fragments, and unicode."""
    import hashlib

    k = en_gb_kernel
    words = list(k.words)[:400]
    probes = set(words[:50])
    for i, w in enumerate(words):
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        if len(w) > 3:
            p = h % len(w)
            probes.add(w[:p] + w[p + 1:])                    # delete
            if p < len(w) - 1:
                probes.add(w[:p] + w[p + 1] + w[p] + w[p + 2:])  # swap
        probes.add(w + words[(i + 7) % len(words)])          # merge error
        for j in (1, len(w) // 2, len(w) - 1):
            if 0 < j < len(w):
                probes.add(w[:j])
                probes.add(w[j:])
    probes.update(["", "a", "ab", "абв", "héllo", "xqzwvj", "x" * 40])
    probes = sorted(probes)
    for med in (1, 2):
        want = {p: [(s.term, s.distance, s.count)
                    for s in k.lookup(p, Verbosity.TOP, med, False, True)]
                for p in probes}
        for p in probes:
            got = [(s.term, s.distance, s.count)
                   for s in k._lookup_top_fast(p, med)]
            assert got == want[p], (p, med, got, want[p])
        k._top_cache.clear()

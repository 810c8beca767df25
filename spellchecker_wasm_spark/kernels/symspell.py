"""Pure-Python SymSpell kernel — behavioral parity with the reference
engine (/root/reference/src/sym_spell/sym_spell.rs), used to

* pin byte-identical semantics before any distribution (golden tests);
* serve as the broadcast per-executor engine inside the Spark
  ``lookup_compound`` operator (the compound algorithm is inherently
  sequential per document — sym_spell.rs:523-676).

Deliberate reference quirks reproduced (each cited):

* postings keyed by the delete **string** (the reference hashes with
  SipHash and tolerates collisions, sym_spell.rs:55-58,272-276; string
  keys are collision-free and distance verification exists regardless);
* 1-char-suggestion distance branch is inverted vs upstream SymSpell
  (``contains`` → input_len, else input_len-1; sym_spell.rs:430-436);
* final sort at Verbosity::All orders distance **descending**
  (sym_spell.rs:508-515 — deviates from the README's own docs);
* compound unknown-term fallback transposes the (distance, count)
  constructor arguments (sym_spell.rs:648,652 vs suggested_item.rs:17);
* a 1-codepoint input with max_edit_distance=2 gets no suggestions
  (``input_len < max_edit_distance`` guard, sym_spell.rs:306).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import IntEnum
from itertools import islice

from .deletes import edits, generate_deletes
from .distance import osa_distance_max
from .text import parse_words

N = 1024908267229.0  # sym_spell.rs:46
_USIZE_MAX = 2**64 - 1

# lookup_compound's combi probe runs at the tightened bound
# min(med, best1.distance + best2.distance - 1) — result-identical to
# the reference's unconditional lookup(combi, med) by the acceptance
# inequality (see lookup_compound_joined).  The flag exists ONLY so the
# equivalence test can execute the reference-shaped path side by side;
# production code never flips it.
_COMBI_TIGHTEN = True
_UINT_RE = re.compile(r"^\+?\d+$")


class Verbosity(IntEnum):
    """sym_spell/verbosity.rs:3-11 (Top=0, Closest=1, All=2)."""

    TOP = 0
    CLOSEST = 1
    ALL = 2


@dataclass(slots=True)
class SuggestItem:
    """suggested_item.rs:5-9 (slots: these are allocated per evaluated
    candidate in the lookup hot loop)."""

    term: str = ""
    distance: int = 0
    count: int = 0


def _parse_usize(s: str) -> int:
    """Rust ``parse::<usize>().unwrap_or(0)`` (sym_spell.rs:185)."""
    s = s.rstrip()
    return int(s) if _UINT_RE.match(s) else 0


def _pow10_usize(exponent: int) -> int:
    """Rust ``10f64.powf(x) as usize`` — saturating float→usize cast."""
    v = 10.0 ** exponent if exponent < 300 else float("inf")
    return _USIZE_MAX if v >= _USIZE_MAX else int(v)


def ingest_wasm_stream(kernel: "SymSpellKernel", data: bytes,
                       is_bigram: bool = False) -> None:
    """Reproduce the WASM chunked line splitter (spellchecker_wasm.rs:24-49):
    each complete line is passed as ``buffer[cursor..i-1]`` — i.e. the char
    **before** the newline is silently dropped.  On the shipped LF
    dictionaries this truncates the last digit of every count, which is why
    the JS-host goldens carry counts like 2733276 for the on-disk value
    27332769.  Lines whose newline sits at buffer index ≤1 are skipped
    (``if i > 1``).  The Node loader flushes a trailing newline
    (nodejs/SpellcheckerWasm.ts:54-88), emulated here when missing.
    """
    if not data.endswith(b"\n"):
        data += b"\n"
    cursor = 0
    for i, ch in enumerate(data):
        if ch == 0x0A:
            if i > 1:
                chunk = data[cursor:i - 1].decode("utf-8")
                if is_bigram:
                    kernel.write_line_to_bigram_dictionary(chunk, " ")
                else:
                    kernel.write_line_to_dictionary(chunk, " ")
            cursor = i + 1


class SymSpellKernel:
    def __init__(self, dictionary_edit_distance: int = 2,
                 prefix_length: int = 7, count_threshold: int = 1) -> None:
        self.dictionary_edit_distance = dictionary_edit_distance
        self.prefix_length = prefix_length
        self.count_threshold = count_threshold
        self.max_dictionary_word_length = 0
        self.deletes: dict[str, list[str]] = {}
        self.words: dict[str, int] = {}
        self.below_threshold_words: dict[str, int] = {}
        self.bigrams: dict[str, int] = {}
        self.bigram_count_min = _USIZE_MAX
        # memoized Top-verbosity lookups for the compound/segmentation hot
        # path: lookup() is a pure function of (term, med) once the
        # dictionary is frozen, and corpus tokens are Zipf-distributed, so
        # the cache turns the dominant per-token cost into a dict probe.
        # Bounded (drop-oldest-half) and invalidated on dictionary writes.
        self._top_cache: dict[tuple[str, int], list[SuggestItem]] = {}
        self._top_cache_cap = 200_000
        # memoized per-TOKEN compound decision (the direct-or-best-split
        # selection, sym_spell.rs:562-652): unlike the combi branch it
        # reads no neighbor state, so it is a pure function of
        # (term, med) over the frozen dictionaries — and it is the
        # compound hot path's dominant cost (len(term)-1 split probes
        # per unmatched token).  Copies returned; same bound/involution
        # as _top_cache.
        self._part_cache: dict[tuple[str, int], SuggestItem] = {}

    # ------------------------------------------------------------------
    # ingestion (sym_spell.rs:109-187)
    # ------------------------------------------------------------------
    def write_line_to_dictionary(self, line: str, separator: str = " ") -> None:
        parts = line.split(separator)
        if len(parts) < 2:
            return
        self.create_dictionary_entry(parts[0], _parse_usize(parts[1]))

    def write_line_to_bigram_dictionary(self, line: str, separator: str = " ") -> None:
        parts = line.split(separator)
        key = parts[0] + " " + parts[1]
        count = _parse_usize(parts[2])
        self.bigrams[key] = count
        if count < self.bigram_count_min:
            self.bigram_count_min = count
        # the memoized compound decision reads bigram counts
        self._part_cache.clear()

    def _lookup_top_memo(self, term: str,
                         max_edit_distance: int) -> list[SuggestItem]:
        """Memoized ``lookup(term, Top, med, False, True)`` — the exact
        call shape every lookup_compound / word_segmentation site uses.
        Returns per-item COPIES: lookup_compound mutates the winning
        SuggestItem in place (``sc.distance += 1``, sym_spell.rs:558), so
        handing out the cached objects would corrupt later hits."""
        key = (term, max_edit_distance)
        hit = self._top_cache.get(key)
        if hit is None:
            hit = self._lookup_top_fast(term, max_edit_distance)
            if len(self._top_cache) >= self._top_cache_cap:
                for k in list(islice(iter(self._top_cache),
                                     self._top_cache_cap // 2)):
                    del self._top_cache[k]
            self._top_cache[key] = hit
        # direct construction beats dataclasses.replace (field
        # introspection) ~6x on this 3-field dataclass — measured hot
        # in the compound profile at 150k+ copies per 2k docs
        return [SuggestItem(s.term, s.distance, s.count) for s in hit]

    # ------------------------------------------------------------------
    # deferred-DP Top lookup (the compound hot path, VERDICT r2 #5)
    # ------------------------------------------------------------------
    def _collect_top_events(self, input_term: str, med: int):
        """Run lookup()'s candidate BFS with the shrinking bound FROZEN at
        ``med`` and the per-pair DP deferred: returns the ordered
        suggestion events + the pairs needing a distance.

        Exactness: max_edit_distance2 only ever shrinks from med, so every
        gate here (windows, break, expansion) with the frozen bound admits
        a SUPERSET of the original encounters in the same order — the
        same pruning lemma SURVEY.md §2.5 sanctions for the distributed
        lookup guarantees the original never evaluates a suggestion this
        pass misses, and _select_top re-applies the shrinking bound over
        the events so the extras drop exactly where the original would
        have pruned them.  _delete_in_suggestion_prefix is skipped: with
        string-keyed postings it only ever rejects hash collisions (see
        its docstring) — property-tested against lookup() regardless."""
        input_len = len(input_term)
        events: list[tuple[str, int | None]] = []
        dp_terms: list[str] = []
        considered_sugg = {input_term}
        considered_del: set[str] = set()
        candidates: list[str] = []
        input_prefix_len = input_len
        if input_prefix_len > self.prefix_length:
            input_prefix_len = self.prefix_length
            candidates.append(input_term[:input_prefix_len])
        else:
            candidates.append(input_term)
        ptr = 0
        while ptr < len(candidates):
            candidate = candidates[ptr]
            ptr += 1
            candidate_len = len(candidate)
            len_diff = input_prefix_len - candidate_len
            if len_diff > med:
                break
            for suggestion in self.deletes.get(candidate, ()):
                if suggestion == input_term:
                    continue
                sl = len(suggestion)
                if ((sl > input_len and sl - input_len > med)
                        or sl < candidate_len
                        or (sl == candidate_len and suggestion != candidate)):
                    continue
                spl = min(sl, self.prefix_length)
                if spl > input_prefix_len and spl - candidate_len > med:
                    continue
                if candidate_len == 0:
                    distance = max(input_len, sl)
                    if distance > med or suggestion in considered_sugg:
                        continue
                    considered_sugg.add(suggestion)
                    events.append((suggestion, distance))
                elif sl == 1:
                    # inverted-contains quirk; NO dedup (matches lookup())
                    events.append((suggestion,
                                   input_len if suggestion[0] in input_term
                                   else input_len - 1))
                elif (self.prefix_length - med == candidate_len
                      and (input_len if input_len < sl else sl)
                      > self.prefix_length
                      and self._should_skip_dp(suggestion, input_term,
                                               candidate_len, sl,
                                               input_len, med)):
                    continue
                else:
                    if suggestion in considered_sugg:
                        continue
                    considered_sugg.add(suggestion)
                    events.append((suggestion, None))
                    dp_terms.append(suggestion)
            if len_diff < med and candidate_len <= self.prefix_length:
                for i in range(candidate_len):
                    delete = candidate[:i] + candidate[i + 1:]
                    if delete not in considered_del:
                        considered_del.add(delete)
                        candidates.append(delete)
        return events, dp_terms

    def _select_top(self, med: int, events, dist: dict[str, int]):
        """Replay lookup()'s Verbosity::Top selection (sym_spell.rs:
        478-484 via the kernel's own loop) over the ordered events."""
        med2 = med
        best: SuggestItem | None = None
        for sugg, d in events:
            if d is None:
                d = dist.get(sugg, -1)
                if d < 0:
                    continue
            if d > med2:
                continue
            c = self.words.get(sugg, 0)
            if best is None or d < med2 or c > best.count:
                med2 = d
                best = SuggestItem(sugg, d, c)
        return [best] if best is not None else []

    def _lookup_top_fast(self, term: str, med: int) -> list[SuggestItem]:
        """Tiered Top lookup, result-identical to
        ``lookup(term, Top, med, False, True)`` (property-tested).

        Tier 1 collects the bound-1 delete neighborhood only (8 candidate
        keys instead of 29, band-1 DP): if it yields a winner at distance
        <= 1, the pruning lemma guarantees every true distance<=1
        candidate was seen, and no distance-2 event can beat or tie it —
        done, at a fraction of the full-BFS cost.  If not, then NO
        distance<=1 candidate exists at all, so the original's shrinking
        bound provably never drops below 2 and the unmodified scalar
        lookup IS the optimal evaluation — fall through to it.

        Gated to med == 2 and len(term) >= 3: the 1-char inverted-contains
        quirk (sym_spell.rs:430-436) is anti-metric, but its distance is
        >= len(term) - 1 >= 2 there, so it can never hide a tier-1 win."""
        input_len = len(term)
        if med != 2 or input_len < 3:
            return self.lookup(term, Verbosity.TOP, med, False, True)
        if input_len - med > self.max_dictionary_word_length:
            return []
        if term in self.words:
            return [SuggestItem(term, 0, self.words[term])]
        events, dp_terms = self._collect_top_events(term, 1)
        if events:
            dist = {}
            for s in dp_terms:
                d = osa_distance_max(term, s, 1)
                dist[s] = -1 if d is None else d
            res = self._select_top(med, events, dist)
            if res and res[0].distance <= 1:
                return res
        return self.lookup(term, Verbosity.TOP, med, False, True)

    def create_dictionary_entry(self, key: str, count: int) -> bool:
        self._top_cache.clear()
        self._part_cache.clear()
        if self.count_threshold > 1 and key in self.below_threshold_words:
            prev = self.below_threshold_words[key]
            count = prev + count if _USIZE_MAX - prev > count else _USIZE_MAX
            if count >= self.count_threshold:
                del self.below_threshold_words[key]
            else:
                self.below_threshold_words[key] = count
                return False
        elif key in self.words:
            prev = self.words[key]
            self.words[key] = prev + count if _USIZE_MAX - prev > count else _USIZE_MAX
            return False
        elif count < self.count_threshold:
            self.below_threshold_words[key] = count
            return False

        if len(key) > self.max_dictionary_word_length:
            self.max_dictionary_word_length = len(key)
        # create_deletes (sym_spell.rs:243-261) inserts the prefix posting
        # directly AND via the returned set — the duplicate is preserved to
        # keep posting iteration order identical.
        key_len = len(key)
        prefix = key[:self.prefix_length] if key_len > self.prefix_length else key
        self.deletes.setdefault(prefix, []).append(key)
        delete_set = generate_deletes(key, self.dictionary_edit_distance,
                                      self.prefix_length)
        for d in delete_set:
            self.deletes.setdefault(d, []).append(key)
        self.words[key] = count
        return True

    # ------------------------------------------------------------------
    # lookup (sym_spell.rs:286-517)
    # ------------------------------------------------------------------
    def lookup(self, input_term: str, verbosity: Verbosity = Verbosity.CLOSEST,
               max_edit_distance: int = 2, include_unknown: bool = False,
               include_self: bool = False) -> list[SuggestItem]:
        assert max_edit_distance <= self.dictionary_edit_distance
        input_len = len(input_term)
        suggestions: list[SuggestItem] = []

        def end(sugg: list[SuggestItem]) -> list[SuggestItem]:
            if include_unknown and not sugg:
                sugg.append(SuggestItem(input_term, max_edit_distance + 1, 0))
            return sugg

        if (input_len < max_edit_distance
                or input_len - max_edit_distance > self.max_dictionary_word_length):
            return end(suggestions)

        if input_term in self.words:
            if include_self:
                suggestions.append(SuggestItem(input_term, 0, self.words[input_term]))
            if verbosity != Verbosity.ALL:
                return end(suggestions)

        if max_edit_distance == 0:
            return end(suggestions)

        deletes_considered: set[str] = set()
        suggestions_considered: set[str] = {input_term}

        max_edit_distance2 = max_edit_distance
        candidate_pointer = 0
        candidates: list[str] = []

        # hot-loop local bindings (attribute lookups cost in the BFS)
        deletes_get = self.deletes.get
        words_get = self.words.get
        prefix_length = self.prefix_length
        plen_med = prefix_length - max_edit_distance

        input_prefix_len = input_len
        if input_prefix_len > prefix_length:
            input_prefix_len = prefix_length
            candidates.append(input_term[:input_prefix_len])
        else:
            candidates.append(input_term)

        while candidate_pointer < len(candidates):
            candidate = candidates[candidate_pointer]
            candidate_pointer += 1
            candidate_len = len(candidate)
            len_diff = input_prefix_len - candidate_len
            if len_diff > max_edit_distance2:
                if verbosity == Verbosity.ALL:
                    continue
                break

            for suggestion in deletes_get(candidate, ()):
                if suggestion == input_term:
                    continue
                suggestion_len = len(suggestion)
                if ((suggestion_len > input_len
                     and suggestion_len - input_len > max_edit_distance2)
                        or suggestion_len < candidate_len
                        or (suggestion_len == candidate_len
                            and suggestion != candidate)):
                    continue
                suggestion_prefix_len = (suggestion_len
                                         if suggestion_len < prefix_length
                                         else prefix_length)
                if (suggestion_prefix_len > input_prefix_len
                        and suggestion_prefix_len - candidate_len > max_edit_distance2):
                    continue

                if candidate_len == 0:
                    distance = max(input_len, suggestion_len)
                    if distance > max_edit_distance2:
                        continue
                    if suggestion in suggestions_considered:
                        continue
                    suggestions_considered.add(suggestion)
                elif suggestion_len == 1:
                    # inverted-contains reference quirk (sym_spell.rs:430-436)
                    distance = input_len if suggestion[0] in input_term else input_len - 1
                elif (plen_med == candidate_len
                      and (input_len if input_len < suggestion_len
                           else suggestion_len) > prefix_length
                      and self._should_skip_dp(suggestion, input_term,
                                               candidate_len, suggestion_len,
                                               input_len, max_edit_distance)):
                    # the two cheap preconditions are _should_skip_dp's own
                    # outer gate (sym_spell.rs:349-377), hoisted to skip
                    # the call for the common case
                    continue
                else:
                    # _delete_in_suggestion_prefix (sym_spell.rs:444-449)
                    # is elided from the hot loop: with string-keyed
                    # postings it only ever rejects hash collisions, of
                    # which there are none (see its docstring) — kept as
                    # a method for structural parity and its tests
                    if suggestion in suggestions_considered:
                        continue
                    suggestions_considered.add(suggestion)
                    d = osa_distance_max(input_term, suggestion, max_edit_distance2)
                    if d is None:
                        continue
                    distance = d

                if distance <= max_edit_distance2:
                    suggestion_ct = words_get(suggestion, 0)
                    si = SuggestItem(suggestion, distance, suggestion_ct)
                    if suggestions:
                        if verbosity == Verbosity.CLOSEST:
                            if distance < max_edit_distance2:
                                suggestions.clear()
                        elif verbosity == Verbosity.TOP:
                            if (distance < max_edit_distance2
                                    or suggestion_ct > suggestions[0].count):
                                max_edit_distance2 = distance
                                suggestions[0] = si
                            continue
                    if verbosity != Verbosity.ALL:
                        max_edit_distance2 = distance
                    suggestions.append(si)

            # candidate expansion BFS (sym_spell.rs:485-506)
            if len_diff < max_edit_distance and candidate_len <= prefix_length:
                if verbosity != Verbosity.ALL and len_diff >= max_edit_distance2:
                    continue
                for i in range(candidate_len):
                    delete = candidate[:i] + candidate[i + 1:]
                    if delete not in deletes_considered:
                        deletes_considered.add(delete)
                        candidates.append(delete)

        if len(suggestions) > 1:
            # stable sort, distance DESC then count DESC (sym_spell.rs:508-515)
            suggestions.sort(key=lambda s: (-s.distance, -s.count))
        return end(suggestions)

    def _should_skip_dp(self, suggestion: str, input_term: str,
                        candidate_len: int, suggestion_len: int,
                        input_len: int, max_edit_distance: int) -> bool:
        """``should_continue`` closure (sym_spell.rs:349-377): when the
        prefix consumed all allowed edits and the suffixes share no
        identical/transposed tail, distance must exceed the max — skip DP.
        """
        m = min(input_len, suggestion_len)
        if (self.prefix_length - max_edit_distance == candidate_len
                and m > self.prefix_length):
            m -= self.prefix_length
            i = input_len + 1 - m
            j = suggestion_len + 1 - m
            k = input_len - m
            ln = suggestion_len - m
            # reference quirk: the suffix comparison slices BYTES at
            # codepoint-derived indices (sym_spell.rs:367) while the
            # transpose window uses codepoint indexing (:368-369)
            if (input_term.encode("utf-8")[i:] != suggestion.encode("utf-8")[j:]
                    or (m > 0 and input_term[k] != suggestion[ln]
                        and (input_term[k - 1] != suggestion[ln]
                             or input_term[k] != suggestion[ln - 1]))):
                return True
        return False

    def _delete_in_suggestion_prefix(self, delete: str, suggestion: str) -> bool:
        """sym_spell.rs:777-798 — with string-keyed postings this only ever
        rejects hash collisions (none), kept for structural parity."""
        if not delete:
            return True
        suggestion_len = min(len(suggestion), self.prefix_length)
        j = 0
        for ch in delete:
            while j < suggestion_len and ch != suggestion[j]:
                j += 1
            if j == suggestion_len:
                return False
        return True

    # ------------------------------------------------------------------
    # lookup_compound (sym_spell.rs:523-676)
    # ------------------------------------------------------------------
    def _compound_term_decision(self, term: str, max_edit_distance: int,
                                suggestions: list[SuggestItem]
                                ) -> SuggestItem:
        """Memoized direct-or-best-split decision for one unmatched
        token (sym_spell.rs:562-652).  Unlike the combi branch this
        block reads NO neighbor state — ``suggestions`` is itself a
        pure function of ``term`` — so the whole decision is a pure
        function of (term, med) over the frozen dictionaries, and it is
        the compound hot path's dominant cost: len(term)-1 split
        probes, each two Top lookups + one bounded OSA.  Zipf-repeated
        corpus tokens turn it into one dict probe.  Invalidated on any
        unigram OR bigram write (split counts read self.bigrams);
        copies returned — callers may be popped/compared but the combi
        branch never mutates non-combi parts."""
        key = (term, max_edit_distance)
        hit = self._part_cache.get(key)
        if hit is None:
            hit = self._compound_term_decision_uncached(
                term, max_edit_distance, suggestions)
            if len(self._part_cache) >= self._top_cache_cap:
                for k in list(islice(iter(self._part_cache),
                                     self._top_cache_cap // 2)):
                    del self._part_cache[k]
            self._part_cache[key] = hit
        return SuggestItem(hit.term, hit.distance, hit.count)

    def _compound_term_decision_uncached(self, term: str,
                                         max_edit_distance: int,
                                         suggestions: list[SuggestItem]
                                         ) -> SuggestItem:
        term_len = len(term)
        best_split: SuggestItem | None = None
        if suggestions:
            best_split = suggestions[0]
        if term_len > 1:
            for j in range(1, term_len):
                part1, part2 = term[:j], term[j:]
                suggestions1 = self._lookup_top_memo(part1, max_edit_distance)
                if not suggestions1:
                    continue
                suggestions2 = self._lookup_top_memo(part2, max_edit_distance)
                if not suggestions2:
                    continue
                split_term = suggestions1[0].term + " " + suggestions2[0].term
                d = osa_distance_max(term, split_term, max_edit_distance)
                distance2 = max_edit_distance + 1 if d is None else d
                if best_split is not None:
                    if distance2 > best_split.distance:
                        continue
                    if distance2 < best_split.distance:
                        best_split = None
                split = SuggestItem(split_term, distance2, 0)
                if split_term in self.bigrams:
                    split.count = self.bigrams[split_term]
                    term_compare = suggestions1[0].term + suggestions2[0].term
                    if suggestions:
                        if term == term_compare:
                            split.count = max(split.count, suggestions[0].count)
                        elif (suggestions1[0].term == suggestions[0].term
                              or suggestions2[0].term == suggestions[0].term):
                            split.count = max(split.count,
                                              suggestions[0].count + 1)
                    elif term == term_compare:
                        split.count = max(split.count,
                                          max(suggestions1[0].count,
                                              suggestions2[0].count + 1))
                else:
                    # Naive Bayes count estimate (sym_spell.rs:637)
                    split.count = min(self.bigram_count_min,
                                      int(suggestions1[0].count / N
                                          * suggestions2[0].count))
                if best_split is None or split.count > best_split.count:
                    best_split = split
            if best_split is not None:
                return best_split
        # transposed-args reference quirk (sym_spell.rs:648)
        return SuggestItem(term, 10 // _pow10_usize(term_len),
                           max_edit_distance + 1)

    def lookup_compound(self, input_text: str,
                        max_edit_distance: int = 2) -> list[SuggestItem]:
        joined, count = self.lookup_compound_joined(input_text,
                                                    max_edit_distance)
        d = osa_distance_max(input_text, joined, _USIZE_MAX)
        return [SuggestItem(joined, 0 if d is None else d, int(count))]

    def lookup_compound_joined(self, input_text: str,
                               max_edit_distance: int = 2
                               ) -> tuple[str, float]:
        """lookup_compound minus the final-assembly distance: returns
        (joined suggestion, raw float count).  The final distance is a
        full unbounded OSA over the WHOLE document pair
        (sym_spell.rs:663-676, distance_compare(input, joined,
        usize::MAX)) — O(|doc|²) interpreted steps that dominated
        compound_correct's wall (~16ms per 300-char doc).  The Spark
        operator (operators/compound.py) calls this form and computes the
        distances for a whole Arrow batch in ONE numpy DP
        (distance_np.osa_batch), which is exactly the scalar value per
        pair; lookup_compound keeps the reference-shaped scalar path for
        parity tests."""
        term_list = parse_words(input_text)
        suggestion_parts: list[SuggestItem] = []

        last_combi = False
        for i, term in enumerate(term_list):
            suggestions = self._lookup_top_memo(term, max_edit_distance)

            if i > 0 and not last_combi:
                best1 = suggestion_parts[-1]
                if suggestions:
                    best2 = suggestions[0]
                else:
                    # estimated unknown-word stats (sym_spell.rs:543-550)
                    best2 = SuggestItem(term, max_edit_distance + 1,
                                        int(10.0 / _pow10_usize(len(term))) if len(term) < 300 else 0)
                distance = best1.distance + best2.distance
                # Bound-tightening lemma (result-identical to the
                # reference's unconditional lookup(combi, med),
                # sym_spell.rs:534-541): the combi winner sc is accepted
                # only when sc.distance + 1 <= distance, i.e.
                # sc.distance <= distance - 1, so probing at
                # med' = min(med, distance - 1) decides identically —
                # Top returns (min distance, max count at it), which is
                # the same item whenever its distance <= med', and when
                # it isn't, BOTH bounds fail the acceptance test.  At
                # distance 0 no combi can ever win (skip the lookup);
                # at 1 it is a dictionary probe; at 2 a bound-1
                # neighborhood scan — the expensive full ed-2 BFS runs
                # only when an unknown term pushes distance >= 3.
                # Combi probes are near-unique strings (memo-miss
                # heavy), so this is the compound hot path's single
                # largest cost; equivalence is pinned by
                # test_combi_bound_tightening_matches_reference.
                if distance > 0 or not _COMBI_TIGHTEN:
                    combi = term_list[i - 1] + term
                    suggestions_combi = self._lookup_top_memo(
                        combi, min(max_edit_distance, distance - 1)
                        if _COMBI_TIGHTEN else max_edit_distance)
                    if suggestions_combi:
                        sc = suggestions_combi[0]
                        if (sc.distance + 1 < distance
                                or (sc.distance + 1 == distance
                                    and sc.count > int(best1.count / N * best2.count))):
                            sc.distance += 1
                            suggestion_parts.pop()
                            suggestion_parts.append(sc)
                            last_combi = True
                            continue

            last_combi = False

            term_len = len(term)
            if suggestions and (suggestions[0].distance == 0 or term_len == 1):
                suggestion_parts.append(suggestions[0])
            else:
                suggestion_parts.append(
                    self._compound_term_decision(term, max_edit_distance,
                                                 suggestions))

        count = N
        s_parts: list[str] = []
        for part in suggestion_parts:
            s_parts.append(part.term)
            count *= part.count / N
        joined = " ".join(s_parts)
        return joined, count

    # ------------------------------------------------------------------
    # word_segmentation (sym_spell.rs:692-775)
    #
    # The reference's implementation is dead code that cannot run: it is
    # not WASM-exported, it indexes into a Vec created with capacity but
    # ZERO length (sym_spell.rs:693,745 — instant panic), slices parts as
    # input[j..i] instead of input[j..j+i] (:701), tests the whitespace of
    # input[0] instead of the part's first char (:707), and drops the
    # `+ top_probability_log` term from the replacement comparison (:755,
    # vs the upstream C# SymSpell.WordSegmentation it transliterates).
    # This method implements the semantics the port INTENDED — the
    # documented SymSpell v6.5 algorithm (triangular-matrix DP over a
    # circular composition buffer, Naive-Bayes log-probabilities, the
    # unknown-word estimate) — with those four defects repaired.
    # ------------------------------------------------------------------
    def word_segmentation(self, input_text: str, max_edit_distance: int = 0,
                          max_segmentation_word_length: int | None = None
                          ) -> tuple[str, str, int, float]:
        """input without (reliable) spaces → (segmented, corrected,
        distance_sum, probability_log_sum)."""
        import math

        if max_segmentation_word_length is None:
            max_segmentation_word_length = self.max_dictionary_word_length
        n = len(input_text)
        if n == 0:
            return ("", "", 0, 0.0)
        capacity = min(max_segmentation_word_length, n)
        compositions: list[tuple[str, str, int, float]] = [
            ("", "", 0, 0.0)] * capacity
        circular_index = -1

        for j in range(n):
            i_max = min(max_segmentation_word_length, n - j)
            for i in range(1, i_max + 1):
                part = input_text[j:j + i]
                separator_len = 0
                top_ed = 0
                if part[0].isspace():
                    # space already in input: not an inserted separator
                    part = input_text[j + 1:j + i]
                else:
                    separator_len = 1
                # inner spaces removed from the part count as edits
                top_ed += len(part)
                part = part.replace(" ", "")
                top_ed -= len(part)

                results = self._lookup_top_memo(part, max_edit_distance)
                if results:
                    top_result = results[0].term
                    top_ed += results[0].distance
                    top_prob = math.log10(results[0].count / N)
                else:
                    # unknown-word estimate (sym_spell.rs:736-738; the
                    # port also dropped the upstream `topEd += part.Length`
                    # — without it a long unknown part scores distance 0
                    # and every input degenerates to one unsegmented blob)
                    top_result = part
                    top_ed += len(part)
                    top_prob = math.log10(
                        10.0 / (N * math.pow(10.0, len(part))))

                dest = (i + circular_index) % capacity
                if j == 0:
                    compositions[dest] = (part, top_result, top_ed, top_prob)
                if circular_index == -1:
                    continue
                c_seg, c_cor, c_dist, c_prob = compositions[circular_index]
                _, _, d_dist, d_prob = compositions[dest]
                if (i == max_segmentation_word_length
                        or ((c_dist + top_ed == d_dist
                             or c_dist + separator_len + top_ed == d_dist)
                            and d_prob < c_prob + top_prob)
                        or c_dist + separator_len + top_ed < d_dist):
                    compositions[dest] = (
                        c_seg + " " + part, c_cor + " " + top_result,
                        c_dist + separator_len + top_ed, c_prob + top_prob)
            circular_index += 1
            if circular_index == capacity:
                circular_index = 0

        return compositions[circular_index]

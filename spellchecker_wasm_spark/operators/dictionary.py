"""Dictionary ingestion as DataFrame jobs.

Reference equivalents: write_line_to_dictionary (sym_spell.rs:167-187),
write_line_to_bigram_dictionary (:153-163), create_dictionary_entry
threshold promotion (:109-149).  The streaming-order promotion mechanics
reduce to a plain groupBy-sum + threshold filter on final state (SURVEY.md
§2.4): membership and counts are identical once the whole file is read.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, functions as F

_USIZE_RE = r"^\+?[0-9]+$"


def _split_literal(col, separator: str):
    """F.split interprets its pattern as a Java regex; the reference splits
    on a LITERAL separator (sym_spell.rs:167-187).  Quote it so separators
    like '|' or '.' split where the reference does."""
    return F.split(col, _re.escape(separator))


def parse_dictionary_lines(lines: DataFrame, separator: str = " ",
                           wasm_truncation: bool = False,
                           value_col: str = "value") -> DataFrame:
    """text lines → (term, count).

    ``wasm_truncation=True`` reproduces the WASM chunk splitter that drops
    the char before every newline (spellchecker_wasm.rs:37) — the mode the
    JS-host goldens were generated under.
    """
    v = F.col(value_col)
    if wasm_truncation:
        v = F.expr(f"substring({value_col}, 1, length({value_col}) - 1)")
    parts = _split_literal(v, separator)
    term = F.element_at(parts, 1)
    raw_count = F.rtrim(F.element_at(parts, 2))
    # Rust parse::<usize>().unwrap_or(0): digits (opt leading +) or 0
    count = F.when(raw_count.rlike(_USIZE_RE),
                   raw_count.cast("long")).otherwise(F.lit(0))
    return (lines
            .where(F.size(parts) >= 2)
            .select(term.alias("term"), count.alias("count")))


def aggregate_word_counts(entries: DataFrame, count_threshold: int = 1,
                          term_col: str = "term",
                          count_col: str = "count") -> DataFrame:
    """Final-state equivalent of create_dictionary_entry accumulation +
    below-threshold promotion (sym_spell.rs:109-149): map-side partial
    aggregation is free (hash agg), the threshold is a post-agg filter.
    """
    return (entries
            .groupBy(F.col(term_col).alias("term"))
            .agg(F.sum(count_col).alias("count"))
            .where(F.col("count") >= count_threshold))

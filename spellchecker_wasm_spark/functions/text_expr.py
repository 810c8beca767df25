"""JVM-native (pure Catalyst) text extraction + tokenization expressions.

These replace the Python extract/tokenize passes in the blocking hot path.
Parity targets:

* ``extract_text_expr`` == pipeline.webpages.extract_text_from_html (the
  fixed byte-identical extraction rule): title group + '\\n' + tag-stripped
  body group, empty string when a section is absent;
* ``title_tokens_array`` == the reference-quirk tokenizer (parse_words,
  sym_spell.rs:191-214) followed by the leading-non-letter strip and the
  min-length filter.  The *composition* is regex-expressible even though
  parse_words alone is not: parse_words emits every maximal run of
  reference-alphanumeric chars (utils.rs:15-35) with at most one leading
  separator char, and the strip removes leading non-letters — so splitting
  on non-alphanumeric runs and then stripping is set-identical (proven in
  tests/test_text_expr.py against the Python kernels).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..kernels.text import _ALPHA_NUMERIC_RANGES


def _cls(cp: int) -> str:
    return f"\\x{{{cp:X}}}"


def alnum_class() -> str:
    """Java-regex character class of the reference's alphanumeric predicate
    (utils.rs:15-35) — NOTE digits 0-9 are deliberately NOT included."""
    parts = []
    for lo, hi in _ALPHA_NUMERIC_RANGES:
        parts.append(_cls(lo) if lo == hi else f"{_cls(lo)}-{_cls(hi)}")
    return "[" + "".join(parts) + "]"


_SEPARATOR_RUN = "[^" + alnum_class()[1:] + "+"
_LEADING_NON_LETTER = r"^[^\p{L}_]+"


def extract_text_expr(html: Column) -> Column:
    """binary html → extracted text (title + '\\n' + tag-stripped body),
    byte-identical to pipeline.webpages.extract_text_from_html."""
    s = F.decode(html, "UTF-8")
    title = F.regexp_extract(s, r"(?s)<title>(.*?)</title>", 1)
    body = F.regexp_replace(
        F.regexp_extract(s, r"(?s)<body>(.*?)</body>", 1), "<[^>]+>", "")
    return F.concat(title, F.lit("\n"), body)


def title_expr(html: Column) -> Column:
    """First line of the extracted text, lowered — the blocking title."""
    return F.lower(F.substring_index(extract_text_expr(html), "\n", 1))


def title_tokens_array(title: Column, min_token_len: int = 2) -> Column:
    """array<string> of distinct cleaned blocking tokens of a title:
    maximal alphanumeric runs (reference predicate), leading non-letter
    chars stripped, length >= min_token_len."""
    runs = F.split(title, _SEPARATOR_RUN)
    cleaned = F.transform(
        runs, lambda t: F.regexp_replace(t, _LEADING_NON_LETTER, ""))
    return F.array_distinct(
        F.filter(cleaned, lambda t: F.length(t) >= min_token_len))

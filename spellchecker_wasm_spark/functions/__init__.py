from .delete_expr import (
    delete_keys_array,
    delete_keys_of_prefix,
    query_deletes_array,
)
from .text_expr import extract_text_expr, title_expr, title_tokens_array
from .udfs import osa_distance_udf, parse_words_udf

__all__ = [
    "delete_keys_array",
    "delete_keys_of_prefix",
    "query_deletes_array",
    "extract_text_expr",
    "title_expr",
    "title_tokens_array",
    "osa_distance_udf",
    "parse_words_udf",
]

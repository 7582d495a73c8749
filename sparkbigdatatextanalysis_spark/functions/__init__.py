from .text import (
    ENGLISH_STOPWORDS,
    term_frequencies_map,
    tokenize,
)
from .vector import vec_dot

__all__ = [
    "ENGLISH_STOPWORDS",
    "tokenize",
    "term_frequencies_map",
    "vec_dot",
]

"""Cross-engine deterministic hashing & shingling expressions.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` are different
functions, so any operator whose oracle check needs identical hash values
in both engines uses this polynomial character-fold instead:

    h(s) = fold over chars: acc <- (acc * 131 + codepoint(c)) mod (2^31 - 1)

Pure 64-bit integer arithmetic (max intermediate < 2^39), bit-identical in
Spark and DuckDB, and good enough dispersion for MinHash/SimHash banding.
All expressions here are built-in higher-order functions -- JVM-side, no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647  # 2^31 - 1, modulus for the char fold
HASH_BASE = 131


def string_hash31(col: Column | str) -> Column:
    """md5-derived string hash -> BIGINT in [0, 2^31-1).

    The first 15 hex digits of md5 parsed as an integer, mod 2^31-1.
    Identical in DuckDB (:func:`string_hash31_sql`), far better dispersion
    than the char fold, and -- unlike the fold, whose per-character
    higher-order lambda is interpreted -- md5 runs native in the JVM, so
    hashing is scan-speed. Preferred for all shingle/token hashing; the
    char fold remains for byte-payload hashing inside Pandas UDFs.
    """
    col = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MERSENNE31
    )


def string_hash31_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same hash as :func:`string_hash31`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {MERSENNE31})"


def string_hash32(col: Column | str, offset: int = 1) -> Column:
    """32-bit md5 slice: hex digits [offset, offset+8) as BIGINT in
    [0, 2^32). Two disjoint offsets (1 and 9) give 64 independent bits
    per string -- the 64-bit SimHash signature source -- while every
    intermediate stays far below signed-64 overflow in both engines."""
    col = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(col), offset, 8), 16, 10).cast("long")


def string_hash32_sql(expr: str, offset: int = 1) -> str:
    """DuckDB SQL fragment computing the same hash as :func:`string_hash32`."""
    return f"(('0x' || substr(md5({expr}), {offset}, 8))::BIGINT)"


def char_fold_hash_sql(expr: str) -> str:
    """DuckDB SQL fragment of the character fold
    ``acc <- (acc * 131 + ascii(c)) mod (2^31 - 1)``, the same fold
    ``operators.multimodal`` applies to payload bytes."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"[ascii(c)::BIGINT for c in string_split({expr}, '')]), "
        f"(acc, c) -> (acc * {HASH_BASE} + c) % {MERSENNE31})"
    )


def word_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of a token array.

    Docs shorter than ``n`` tokens yield a single shingle of the whole doc
    (so every doc gets >=1 shingle and stays dedup-eligible).
    """
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - n + 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= n, ngrams).otherwise(
            F.array(F.concat_ws(" ", tokens))
        )
    )


def word_shingles_sql(toks_expr: str, n: int = 3) -> str:
    """DuckDB fragment: distinct word n-grams of a list-of-words expression,
    same short-doc fallback as :func:`word_shingles`."""
    return (
        f"list_distinct(CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(range(1, len({toks_expr}) - {n} + 2), "
        f"i -> array_to_string({toks_expr}[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({toks_expr}, ' ')] END)"
    )

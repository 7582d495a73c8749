"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, tokenizer-style token counting, document fingerprints.

All are single-pass narrow projections (no shuffle except the fingerprint
min-agg) built from built-in expressions, so they run at scan speed on
100 TB inputs and each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import ENGLISH_STOPWORDS, tokenize

# Tiny per-language function-word lists for the n-gram-free heuristic
# language ID. Deliberately small and deterministic; ties resolve in the
# fixed order en > de > fr > es.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "en", "por", "que"],
}

# BPE-ish pre-tokenization: word runs or single non-space symbols --
# the usual regex-level proxy for subword tokenizer input counting.
BPE_SPLIT_PATTERN = r"\w+|[^\w\s]"


def _marker_hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: F.array_contains(F.lit(words), t)))


def language_scores(text_col: str = "text") -> dict[str, Column]:
    toks = tokenize(text_col)
    return {lang: _marker_hits(toks, words) for lang, words in LANG_MARKERS.items()}


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, lang_pred, n_hits): argmax of marker-word hit counts, ties in
    fixed list order. Pure projection -- no shuffle."""
    s = language_scores(text_col)
    best = F.greatest(*s.values())
    pred = (
        F.when(s["en"] == best, "en")
        .when(s["de"] == best, "de")
        .when(s["fr"] == best, "fr")
        .otherwise("es")
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("lang_pred"),
        best.alias("n_hits"),
    )


def text_quality(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a [0,1] composite score.

    Features follow the usual web-corpus filters (Gopher/C4-style length
    and symbol ratios): n_chars, n_tokens, mean token length, stopword
    ratio, punctuation ratio, digit ratio. score = clipped blend; the
    exact weights are engine policy, documented here, same in the oracle.
    """
    t = F.col(text_col)
    toks = tokenize(text_col)
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(toks).cast("double")
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0.0), lambda a, x: a + F.length(x)) / n_tokens,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0,
        _marker_hits(toks, ENGLISH_STOPWORDS).cast("double") / n_tokens,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    digit_ratio = F.when(
        n_chars > 0, F.regexp_count(t, F.lit(r"[0-9]")).cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    length_score = F.least(n_tokens / 20.0, F.lit(1.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            0.4 * length_score + 0.3 * (1.0 - punct_ratio) + 0.2 * stop_ratio
            + 0.1 * (1.0 - digit_ratio),
        ),
    )
    return docs.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality_score"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens): whitespace token count and the
    BPE-ish regex pre-token count -- the unit LLM-data pipelines budget
    by. Narrow projection, scan-speed."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(F.split(t, r"\s+"), lambda x: x != "")).alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_SPLIT_PATTERN)).alias("n_bpe_tokens"),
    )


def doc_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, fingerprint, n_shingles): winnowing-style content fingerprint
    = min md5-based hash over the doc's word n-gram shingles. Two docs
    sharing their minimal shingle collide -- a cheap first-pass near-dup
    blocking key (full MinHash lives in operators.dedup). Shares the
    relational shingle pipeline with the dedup operators (posexplode +
    lead windows, whole-stage codegen)."""
    from .dedup import shingle_hashes

    sh = shingle_hashes(docs, id_col, text_col, n)
    return sh.groupBy("id").agg(
        F.min("sh").alias("fingerprint"),
        F.count("*").cast("int").alias("n_shingles"),
    )


# PII patterns: email-like tokens and long digit runs (ids, phone
# numbers). Kept module-level so the Spark query and the DuckDB oracle
# (and any caller) share one definition.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS_RE = r"\d{6,}"


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact email-like tokens and >=6-digit runs before a corpus ships
    to training: (id, scrubbed_text, n_redactions). Map-only
    regexp_replace at scan speed; the count comes from
    regexp_extract_all so engines count identical non-overlapping
    matches. Emails are scrubbed first so their digit-bearing local
    parts are not double-counted as digit runs."""
    t = F.col(text_col)
    no_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(no_email, PII_DIGITS_RE, "<NUM>")
    # Count digit runs on the email-scrubbed intermediate, so a digit
    # run inside an email's local part is one redaction, not two.
    n_red = F.size(
        F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))
    ) + F.size(F.regexp_extract_all(no_email, F.lit(PII_DIGITS_RE), F.lit(0)))
    return docs.select(
        id_col,
        scrubbed.alias("scrubbed_text"),
        n_red.cast("long").alias("n_redactions"),
    )


def curation_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Composite rule-based document filter in the style of the
    published web-curation rule sets (Gopher/C4-family): each rule is an
    independent boolean column so pipelines can audit WHICH rule fired
    (the operational requirement rule filters have and a single score
    does not), plus the conjunction as ``keep``.

    Rules (all map-only expressions over one tokenization -- the whole
    operator is a scan-speed narrow projection, no shuffle):

    * ``r_n_tokens``        -- 5 <= token count <= 100_000
    * ``r_mean_word_len``   -- mean alphabetic-word length in [2, 12]
    * ``r_symbol_ratio``    -- '#'/'...' occurrences per token <= 0.1
    * ``r_bullet_ratio``    -- <= 90% of lines start with a bullet
    * ``r_alpha_ratio``     -- >= 70% of tokens contain a letter
    * ``r_stopword_hits``   -- >= 2 distinct English stopwords appear

    Thresholds are the published defaults, exposed as columns rather
    than baked into a WHERE so downstream can re-threshold without a
    second corpus pass.
    """
    toks = tokenize(f"`{text_col}`")
    n_tokens = F.size(toks)
    alpha = F.filter(toks, lambda t: t.rlike("[a-z]"))
    n_alpha = F.size(alpha)
    mean_len = F.when(
        n_alpha > 0,
        F.aggregate(
            alpha, F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / n_alpha,
    )
    n_symbols = (
        F.size(F.split(F.col(text_col), "#", -1))
        - 1
        + F.size(F.split(F.col(text_col), r"\.\.\.", -1))
        - 1
    )
    lines = F.filter(
        F.split(F.col(text_col), "\n", -1), lambda x: F.trim(x) != ""
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^[\-\*•]"))
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS]),
        )
    )
    rules = {
        "r_n_tokens": (n_tokens >= 5) & (n_tokens <= 100_000),
        "r_mean_word_len": F.coalesce(
            (mean_len >= 2.0) & (mean_len <= 12.0), F.lit(False)
        ),
        "r_symbol_ratio": F.when(n_tokens > 0, n_symbols / n_tokens <= 0.1)
        .otherwise(F.lit(False)),
        "r_bullet_ratio": F.when(n_lines > 0, n_bullet / n_lines <= 0.9)
        .otherwise(F.lit(True)),
        "r_alpha_ratio": F.when(n_tokens > 0, n_alpha / n_tokens >= 0.7)
        .otherwise(F.lit(False)),
        "r_stopword_hits": stop_hits >= 2,
    }
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return docs.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )

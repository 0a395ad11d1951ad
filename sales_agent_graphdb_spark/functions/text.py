"""Text kit: every tokenizer, normalizer, word n-gram and content
fingerprint the engine uses, each as a pair — ``rule(c)``, a Spark
Column expression, and ``rule_sql(expr)``, its DuckDB text.

Invariant: a text rule changes here, in both halves at once, or the
Spark side and its DuckDB oracle silently diverge. Query modules and
operators call these pairs and spell no rule of their own, and the kit
imports nothing from ``queries/`` (tests/test_text_contract.py).

Call-site caveat: a tokenizer is a non-cheap expression. A caller that
reads a token array more than once (an n-gram lambda, several consumer
columns) aliases it in its own projection first; referenced inline,
CollapseProject copies the split into every reference (measured 22x
slower in ``text_boilerplate_ngrams``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ws_tokens(c: Column) -> Column:
    """Whitespace tokens of the trimmed text."""
    return F.split(F.trim(c), r"\s+")


def ws_tokens_sql(expr: str = "text") -> str:
    return f"string_split_regex(trim({expr}), '\\s+')"


def lower_ws_tokens(c: Column) -> Column:
    """Whitespace tokens of the lowercased, untrimmed text (the fulltext
    inverted index; callers drop the empty edge tokens)."""
    return F.split(F.lower(c), r"\s+")


def lower_ws_tokens_sql(expr: str) -> str:
    return f"string_split_regex(lower({expr}), '\\s+')"


def alnum_tokens(c: Column) -> Column:
    """The corpus word tokenizer: non-alnum → space, lowercase, then
    whitespace tokens."""
    return ws_tokens(F.lower(F.regexp_replace(c, "[^a-zA-Z0-9 ]", " ")))


def alnum_tokens_sql(expr: str = "text") -> str:
    return ws_tokens_sql(f"lower(regexp_replace({expr}, '[^a-zA-Z0-9 ]', ' ', 'g'))")


def alnum_run_tokens(c: Column) -> Column:
    """Non-empty [a-z0-9] runs of the lowercased text (BM25 postings)."""
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: F.length(x) > 0)


def alnum_run_tokens_sql(expr: str = "text") -> str:
    return f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), x -> length(x) > 0)"


def letter_tokens(c: Column) -> Column:
    """[a-z] runs of the lowercased text, empty edge tokens kept."""
    return F.split(F.lower(c), "[^a-z]+")


def letter_tokens_sql(expr: str = "text") -> str:
    return f"string_split_regex(lower({expr}), '[^a-z]+')"


def normalize_alnum(c: Column) -> Column:
    """F8 — lowercase, strip non-alphanumerics (reference Chat.jsx:225-227)."""
    return F.regexp_replace(F.lower(c), "[^a-z0-9]", "")


def normalize_alnum_sql(expr: str = "text") -> str:
    return f"regexp_replace(lower({expr}), '[^a-z0-9]', '', 'g')"


def content_fp(c: Column) -> Column:
    """md5 of the F8-normalized text: the exact-dedup key (the reference
    dedups by normalized content, db_service.py:379-387)."""
    return F.md5(normalize_alnum(c))


def content_fp_sql(expr: str = "text") -> str:
    return f"md5({normalize_alnum_sql(expr)})"


def shingle_norm(c: Column) -> Column:
    """Lowercase, keep [a-z0-9 ]: the text MinHash shingles are cut from."""
    return F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")


def shingle_norm_sql(expr: str = "text") -> str:
    return f"regexp_replace(lower({expr}), '[^a-z0-9 ]', '', 'g')"


def shingle_words(c: Column) -> Column:
    """Whitespace tokens of the shingle-normalized text (SimHash words)."""
    return ws_tokens(shingle_norm(c))


def shingle_words_sql(expr: str = "text") -> str:
    return ws_tokens_sql(shingle_norm_sql(expr))


def word_ngrams(w: Column, n: int) -> Column:
    """Space-joined word n-grams of the token array ``w`` in order, empty
    below ``n`` tokens."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams_sql(w: str, n: int) -> str:
    # `||` joins like concat_ws here: a split never yields a NULL token.
    joined = " || ' ' || ".join(f"{w}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({w}) >= {n} THEN list_transform("
        f"generate_series(1, len({w}) - {n - 1}), i -> {joined}) ELSE [] END"
    )

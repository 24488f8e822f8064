"""Word and BPE-ish pre-tokenization, JVM-side.

`word_tokens` is the corpus word tokenizer every word-level text query
uses: lowercase, split on runs of anything but [a-z0-9], drop the empty
tokens a leading or trailing separator leaves. `WORD_TOKENS_SQL` is its
DuckDB twin; both engines give the same token lists.

Real BPE needs a learned merge table; what a budget-accounting pipeline
needs BEFORE that is the pre-tokenizer — the published GPT-2 splitting
regex (contractions, space-prefixed letter runs, digit runs, punctuation
runs, whitespace). This is that pattern in an RE2-safe form (no
lookahead, so Spark's Java regex and DuckDB's RE2 produce IDENTICAL
token streams — the oracle for q_text_bpe_token_count relies on it;
dropping GPT-2's `\\s+(?!\\S)` trailing-space lookahead merges runs of
spaces into one token, a documented, deterministic simplification).

Whole-stage-codegen JVM expression — no Python in the hot path; at
100 TB token counting is a narrow scan-side projection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

WORD_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def word_tokens(col: str = "text") -> F.Column:
    """Array of lowercase [a-z0-9]+ words of a text column (the Spark
    twin of WORD_TOKENS_SQL)."""
    return F.filter(
        F.split(F.lower(F.col(col)), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


# RE2-safe GPT-2-style pre-tokenizer (contractions | " ?"+letters |
# " ?"+digits | " ?"+punct-run | whitespace-run)
BPE_ISH_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_ish_tokens(col: str) -> F.Column:
    """Array of pre-tokens for a text column (JVM regexp_extract_all)."""
    return F.regexp_extract_all(F.col(col), F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_ish_token_count(col: str) -> F.Column:
    return F.size(bpe_ish_tokens(col))

"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All built-in Column expressions (regexp / split / sha2) — each has an exact
ANSI-SQL twin for the DuckDB oracle, and none leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# stopword markers per language — the n-gram heuristic's evidence table.
# Deliberately tiny + deterministic; accuracy is a non-goal, determinism is.
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", " the "),
    ("de", " der "),
    ("fr", " le "),
    ("es", " el "),
    ("zh", " de "),
]


def lang_id_col(text_col: str = "text") -> Column:
    """First-matching stopword heuristic (CASE chain — same SQL both sides)."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    expr = F.lit("unknown")
    for lang, marker in reversed(LANG_MARKERS):
        expr = F.when(padded.contains(marker), F.lit(lang)).otherwise(expr)
    return expr


def lang_id_sql(text_col: str = "text") -> str:
    cases = "\n".join(
        f"WHEN contains(' ' || lower({text_col}) || ' ', '{m}') THEN '{l}'"
        for l, m in LANG_MARKERS
    )
    return f"CASE {cases} ELSE 'unknown' END"


def token_count_col(text_col: str = "text") -> Column:
    return F.size(F.split(F.col(text_col), " "))


# GPT-2-style pre-tokenizer shape: letter runs, digit runs, single
# punctuation marks. RE2/Java-compatible so DuckDB runs the identical regex.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_token_count_col(text_col: str = "text") -> Column:
    """BPE-ish token count: word/number/punct pieces via regexp_extract_all
    — the standard pre-tokenization pass before byte-pair merges, which is
    the right cardinality proxy for LLM token budgeting."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0))
    )


def quality_cols(text_col: str = "text") -> dict[str, Column]:
    """Deterministic quality features: char/token counts, mean token length,
    alpha ratio, space ratio."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count_col(text_col)
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    n_space = F.length(F.regexp_replace(text, "[^ ]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round((n_chars - n_space) / n_tokens, 6),
        "alpha_ratio": F.round(n_alpha / n_chars, 6),
        "space_ratio": F.round(n_space / n_chars, 6),
    }


def fingerprint_col(text_col: str = "text") -> Column:
    """Whitespace-normalized sha256 fingerprint (rolling-hash analogue with
    an exact cross-engine definition)."""
    return F.sha2(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "), 256)


"""Text-analysis column functions (SURVEY §7.2 M5 north-star: language
ID, quality scoring, token counting, fingerprinting). All pure Catalyst
expressions — each has an exact DuckDB twin used by the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword lists for the n-gram/stopword-ratio
# language heuristic (public-knowledge function words)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "nicht"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}
LANGS = list(LANG_STOPWORDS)


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(text), " ")


def tokens_sql(expr: str) -> str:
    return f"string_split(lower({expr}), ' ')"


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def distinct_tokens_sql(expr: str) -> str:
    return f"list_distinct({tokens_sql(expr)})"


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-gram shingles (order-sensitive, space-joined)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # sequence(1, k<=0) DESCENDS in Spark — short texts must yield []
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def stopword_hits(toks: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_hits_sql(toks_expr: str, lang: str) -> str:
    lit = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({toks_expr}, t -> t IN ({lit})))"


def predict_lang(toks: Column) -> Column:
    """Argmax of per-language stopword-hit counts; ties resolve in the
    fixed LANGS order; zero hits everywhere → 'und' (undetermined)."""
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in LANGS:
        hits = stopword_hits(toks, lang)
        better = hits > best_n
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_n = F.when(better, hits).otherwise(best_n)
    return best


def argmax_lang(hits: list[tuple[str, Column]]) -> Column:
    """Argmax over PRECOMPUTED per-language hit columns. predict_lang
    inlines stopword_hits into the when-chain, where each hits_i is
    re-evaluated by every later branch (the chain doubles references
    per level — exponential expression blowup). Projecting the counts
    first (CollapseProject keeps multiply-referenced non-cheap columns
    materialized) makes the argmax a when-chain over scalar ints."""
    best = F.lit("und")
    best_n = F.lit(0)
    for lang, h in hits:
        better = h > best_n
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_n = F.when(better, h).otherwise(best_n)
    return best


def predict_lang_sql(toks_expr: str) -> str:
    # mirrors the same left-to-right argmax fold
    expr_best, expr_n = "'und'", "0"
    for lang in LANGS:
        hits = stopword_hits_sql(toks_expr, lang)
        expr_best = f"(CASE WHEN {hits} > {expr_n} THEN '{lang}' ELSE {expr_best} END)"
        expr_n = f"(CASE WHEN {hits} > {expr_n} THEN {hits} ELSE {expr_n} END)"
    return expr_best


def token_count_regex(text: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and isolated
    non-space symbols each count as one token."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def token_count_regex_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


def quality_metrics(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features with one
    combined [0,1] score (simple interpretable heuristic)."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    stop_en = stopword_hits(toks, "en")
    mean_wlen = (n_chars - (n_tok - 1)) / n_tok  # chars net of separators
    return {
        "n_tokens": n_tok.cast("long"),
        "n_chars_m": n_chars.cast("long"),
        "punct_ratio": F.round(punct / n_chars, 6),
        "stopword_ratio": F.round(stop_en / n_tok, 6),
        "mean_word_len": F.round(mean_wlen, 6),
    }


QUALITY_SQL = {
    "n_tokens": "len(string_split(lower(text), ' '))::BIGINT",
    "n_chars_m": "length(text)::BIGINT",
    "punct_ratio": r"round(len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE / length(text), 6)",
    "stopword_ratio": (
        "round("
        + stopword_hits_sql("string_split(lower(text), ' ')", "en")
        + "::DOUBLE / len(string_split(lower(text), ' ')), 6)"
    ),
    "mean_word_len": (
        "round((length(text) - (len(string_split(lower(text), ' ')) - 1))::DOUBLE"
        " / len(string_split(lower(text), ' ')), 6)"
    ),
}

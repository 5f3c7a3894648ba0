"""Text-analysis functions for large-scale training-data pipelines.

All hot-path functions are pure Catalyst column expressions (whole-stage
codegen, no Python) — the reference's per-row text munging
(/root/reference/src/game_library.py:92-116, suffix strip / punctuation
normalize) scaled to corpus level. Every function has an exact ANSI-SQL
mirror so the DuckDB oracle can verify it bit-for-bit.

Cross-engine determinism notes:
- token hash = first 15 hex digits of md5 -> 60-bit int. Identical in
  Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
  (``('0x'||substr(md5(x),1,15))::UBIGINT``), verified.
- whitespace tokenization uses the regex ``\\s+`` in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small fixed stopword sets per language for the n-gram/stopword language-ID
# heuristic (public common-word lists; deterministic, versioned).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans", "une", "des"],
    "es": ["el", "la", "los", "que", "de", "en", "es", "por", "con", "una"],
    "pt": ["o", "a", "os", "que", "de", "em", "para", "com", "uma", "por"],
}

PUNCT_CLASS = r"[.,!?;:]"


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim (the dedup normalization)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(col), " ")


def token_hash(col: Column) -> Column:
    """Shared 60-bit md5-based hash (identical in DuckDB — see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def token_count(col: Column) -> Column:
    """Whitespace token count; empty text counts 0."""
    t = normalize_text(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavored subword proxy: alnum runs + each punctuation mark counts
    as a token (a cheap deterministic stand-in for a real tokenizer)."""
    words = F.when(
        F.length(F.trim(col)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.regexp_replace(col, r"[^A-Za-z0-9]+", " ")), r"\s+")))
    puncts = F.length(col) - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return (words + puncts).cast("bigint")


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, n_sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks).cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: length band + stopword presence +
    punctuation sanity + reasonable word lengths. Deterministic, versioned;
    the Spark rendition of the reference's similarity/quality thresholds
    (/root/reference/src/how_long_to_beat.py:462 analog)."""
    n_tok = token_count(col).cast("double")
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw = F.when(stopword_ratio(col) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    wl = mean_word_len(col)
    wl_ok = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(0.1)).otherwise(F.lit(0.0))
    return F.round(len_ok + sw + punct_ok + wl_ok, 6)


def lang_id(col: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword set matches
    the most tokens wins; ties break alphabetically; no votes -> 'und'."""
    toks = tokens(col)
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("n"),
                F.lit(lang).alias("lang"),
            )
        )
    # max over (n, reversed-lang) so higher n wins and 'de' beats 'en' only
    # on strictly more votes; alphabetical tie-break needs min lang at max n
    arr = F.array(*scores)
    best_n = F.array_max(F.transform(arr, lambda s: s.getField("n")))
    winners = F.filter(arr, lambda s: s.getField("n") == best_n)
    first = F.array_min(F.transform(winners, lambda s: s.getField("lang")))
    return F.when(best_n > 0, first).otherwise(F.lit("und"))


def doc_fingerprint(col: Column) -> Column:
    """Exact-content fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def rolling_min_hash(col: Column, ngram: int = 8) -> Column:
    """Winnowing-style document fingerprint: min 60-bit hash over the
    character ``ngram``-grams of the normalized text (robust to word
    reordering at the edges; cheap single-value sketch)."""
    t = normalize_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - ngram + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: t.substr(i, F.lit(ngram)))
    return F.array_min(F.transform(grams, token_hash))

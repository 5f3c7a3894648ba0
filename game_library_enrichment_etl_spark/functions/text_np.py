"""numpy/pandas-vectorized fast paths for the text-analysis functions.

The Catalyst versions in functions/text.py are the SPEC (oracle-checked in
SQL); their per-token work runs through interpreted higher-order array
functions (F.filter / F.transform / F.aggregate are not whole-stage
codegen'd), which the round-2 verdict flagged as the 100-TB-tier caveat.
These Arrow-batched pandas UDFs compute the SAME values with C-level
string kernels and closed forms over the single-space-normalized text:

    n_tokens      = spaces + 1            (0 for empty)
    mean_word_len = (len - spaces) / (spaces + 1)
    stopword hits = count of '(^| )<word>(?= |$)' matches

tests/test_text_np.py asserts value-equality against the Catalyst
versions over the synthetic corpus; the oracle entries for the *_np bench
queries reuse the same SQL as the spec versions.

Rounding: Spark's F.round is HALF_UP; numpy's np.round is half-even, so
round6() implements half-up explicitly (inputs are non-negative here).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .text import LANG_STOPWORDS

_PUNCT_RE = r"[.,!?;:]"


def _round6(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e6 + 0.5) / 1e6


def _normalize(s: pd.Series) -> pd.Series:
    return s.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()


# token -> indices of the (sorted) languages whose stopword list holds it.
# In single-space-normalized text, counting ``tok == word`` over split(' ')
# tokens equals counting the boundary-anchored matches of the module
# docstring, but a dict probe per token replaces a 10-way alternation scan
# per language: the regex path's backtracking was ~70% of lang_id_np's wall
# (r6).
_SORTED_LANGS = sorted(LANG_STOPWORDS)
_STOPWORD_LUT: dict[str, tuple[int, ...]] = {}
for _i, _lang in enumerate(_SORTED_LANGS):
    for _w in LANG_STOPWORDS[_lang]:
        _STOPWORD_LUT[_w] = _STOPWORD_LUT.get(_w, ()) + (_i,)
_EN_STOPWORDS = frozenset(LANG_STOPWORDS["en"])


def _quality_token_stats_impl(text: pd.Series) -> pd.DataFrame:
    """Vectorized (token_count, bpe_ish_token_count, punct_ratio round 6,
    quality_score) — value-equal to functions/text.py."""
    raw_len = text.str.len().fillna(0).to_numpy(dtype=np.float64)
    norm = _normalize(text.fillna(""))
    nlen = norm.str.len().to_numpy(dtype=np.float64)
    spaces = norm.str.count(" ").to_numpy(dtype=np.float64)
    n_tok = np.where(nlen == 0, 0.0, spaces + 1.0)

    # bpe-ish: alnum runs + punctuation marks
    t2 = text.fillna("").str.replace(r"[^A-Za-z0-9]+", " ", regex=True).str.strip()
    trimmed_empty = text.fillna("").str.strip().str.len().to_numpy(dtype=np.float64) == 0
    words = np.where(trimmed_empty, 0.0, t2.str.count(" ").to_numpy(np.float64) + 1.0)
    puncts = text.fillna("").str.count(_PUNCT_RE).to_numpy(dtype=np.float64)
    n_bpe = words + puncts

    punct_ratio = np.where(raw_len > 0, puncts / np.maximum(raw_len, 1.0), 0.0)

    en = _EN_STOPWORDS
    sw_hits = np.fromiter(
        (
            sum(tok in en for tok in t.split(" ")) if t else 0
            for t in norm.tolist()
        ),
        dtype=np.float64,
        count=len(norm),
    )
    sw_ratio = np.where(n_tok > 0, sw_hits / np.maximum(n_tok, 1.0), 0.0)
    mean_wl = np.where(nlen > 0, (nlen - spaces) / np.maximum(n_tok, 1.0), 0.0)

    q = (
        np.where((n_tok >= 5) & (n_tok <= 5000), 0.4, 0.0)
        + np.where(sw_ratio >= 0.05, 0.3, 0.0)
        + np.where(punct_ratio <= 0.2, 0.2, 0.0)
        + np.where((mean_wl >= 2.0) & (mean_wl <= 12.0), 0.1, 0.0)
    )
    # NULL-text parity with the Catalyst spec: token counts are NULL (the
    # when-branches propagate null), the ratios/score fall to 0.0
    null_in = text.isna().to_numpy()
    return pd.DataFrame(
        {
            "n_tokens": pd.array(
                np.where(null_in, -1, n_tok).astype(np.int64), dtype="Int64"
            ),
            "n_bpe_tokens": pd.array(
                np.where(null_in, -1, n_bpe).astype(np.int64), dtype="Int64"
            ),
            "punct_ratio": _round6(punct_ratio),
            "quality": _round6(q),
        }
    ).assign(
        n_tokens=lambda d: d["n_tokens"].mask(null_in),
        n_bpe_tokens=lambda d: d["n_bpe_tokens"].mask(null_in),
    )


def _lang_id_impl(text: pd.Series) -> pd.Series:
    """Vectorized stopword-vote language ID — value-equal to
    functions/text.py lang_id (max votes wins, alphabetical tie-break,
    'und' on zero votes)."""
    norm = _normalize(text.fillna(""))
    langs = _SORTED_LANGS
    lut = _STOPWORD_LUT
    counts = np.zeros((len(norm), len(langs)), dtype=np.int64)
    for d, t in enumerate(norm.tolist()):
        if not t:
            continue
        row = counts[d]
        for tok in t.split(" "):
            li = lut.get(tok)
            if li is not None:
                for i in li:
                    row[i] += 1
    best = counts.max(axis=1)
    # argmax returns the FIRST max — langs are sorted, so ties break
    # alphabetically exactly like the Catalyst array_min over winners
    winner = np.array(langs, dtype=object)[counts.argmax(axis=1)]
    return pd.Series(np.where(best > 0, winner, "und"))


# UDF factories, not module-level decorators: a decorated module global
# would be re-created when the executor-side unpickler imports this module,
# where no SparkSession exists. The factories run on the driver only; the
# plain impl functions pickle by reference.
def quality_token_stats_np():
    return F.pandas_udf(
        "n_tokens bigint, n_bpe_tokens bigint, punct_ratio double, quality double"
    )(_quality_token_stats_impl)


def lang_id_np():
    return F.pandas_udf("string")(_lang_id_impl)

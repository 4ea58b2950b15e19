"""Text-analysis column helpers (tokenization, shingling).

All pure column algebra; shingling a 100 TB documents table is a
map-only stage with zero shuffle.

PERFORMANCE RULE (measured, sf0.1): expressions referenced inside a
higher-order-function lambda are re-evaluated **per array element** —
Catalyst does no common-subexpression elimination across the lambda
boundary. Shingling straight off ``split(text)`` re-ran the regex
split ~150× per document (8.7 s for 5 k docs); shingling a
*materialized* token-array column runs in 0.6 s. Hence
:func:`shingles` takes a token **column**, and callers select
:func:`whitespace_tokens` into a named column first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def whitespace_tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def shingles(tokens: Column | str, n: int = 3, sep: str = "|") -> Column:
    """Array of n-word shingles from a MATERIALIZED token-array column.

    Built shuffle-free as n aligned ``slice``s zipped with ``concat``:
    shingle[i] = toks[i] ⊕ toks[i+1] ⊕ … ⊕ toks[i+n-1]. Arrays shorter
    than n yield an empty array (slice of length 0), no special-casing.
    """
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, k)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, j + 1, k), lambda x, y: F.concat(x, F.lit(sep), y))
    return out


# The DuckDB twins of the two helpers above, interpolated by every
# oracle that tokenizes or shingles, so the SQL side has one definition
# too: the whitespace tokens of a string expression (`text` unless a
# caller normalizes it first), and the pipe-joined 3-gram shingles of a
# token list named `ws` (a list shorter than 3 gives []).


def whitespace_tokens_sql(col: str = "text") -> str:
    """DuckDB fragment equivalent to :func:`whitespace_tokens` of ``col``."""
    return rf"list_filter(regexp_split_to_array({col}, '\s+'), t -> t <> '')"


WHITESPACE_TOKENS_SQL = whitespace_tokens_sql()
SHINGLES_SQL = (
    "list_transform(generate_series(1, len(ws) - 2), "
    "i -> ws[i] || '|' || ws[i+1] || '|' || ws[i+2])"
)


# The heuristic English detector shared by the evaluation family
# (q_calibration_ece, q_isotonic_calibration, q_cohens_kappa,
# q_brier_decomposition, q_mcnemar_test, q_fairness_audit): score =
# min(round(vowel_ratio, 4) * 2, 1). ONE definition on each engine —
# a tweak applied to only some call sites would silently rate the
# same document differently across operators, so every Spark use
# goes through english_score() and every DuckDB oracle interpolates
# english_score_sql(). The column name is a parameter on BOTH sides
# so a caller scoring a different column can't silently score `text`
# in the oracle while the Python helper scores the other column.


def english_score_sql(col: str = "text") -> str:
    """DuckDB fragment byte-equivalent to :func:`english_score`."""
    return (
        f"LEAST(ROUND(CAST(len(regexp_replace({col}, '[^aeiou]', '', 'g'))"
        f" AS DOUBLE) / GREATEST(len({col}), 1), 4) * 2.0, 1.0)"
    )


# Back-compat constant for oracles scoring the default `text` column.
ENGLISH_SCORE_SQL = english_score_sql()


def english_score(text: Column | str = "text") -> Column:
    """Vowel-ratio English-ness score in [0, 1] (see english_score_sql
    for the byte-equivalent DuckDB fragment). The 4dp round happens
    BEFORE the *2 rescale so scores land on an exact grid and a
    >= 0.5 threshold is never a float-noise coin flip."""
    vowels = F.length(F.regexp_replace(text, "[^aeiou]", ""))
    return F.least(
        F.round(vowels.cast("double") / F.greatest(F.length(text), F.lit(1)), 4)
        * 2.0,
        F.lit(1.0),
    )

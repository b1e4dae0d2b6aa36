"""Text analysis column builders — all JVM-side expressions (codegen'd),
no Python in the hot path. Used by the caption near-dup pipeline and the
training-data text operators over the ``documents`` table.

Every builder here has a matching ANSI-SQL formulation in
``__spark_entry__.oracle_sql`` so the DuckDB oracle can replicate it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny stopword list shared with the SQL oracle (keep in sync).
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# Per-language marker words for the rule-based language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles. Texts shorter than ``k`` words get
    a single whole-text shingle so no row has an empty shingle set (the
    MinHash reduceat kernel requires >= 1 element per row).

    Built as ``arrays_zip`` of k shifted slices, NOT element_at per
    position inside a transform lambda: Catalyst performs no common-
    subexpression elimination inside lambda bodies, so the per-position
    form re-ran the regex split for every element — O(n_tokens *
    text_len) per row (measured 7x slowdown at 5k docs). The zip form
    evaluates the split O(k) times per row. (A lambda let-binding via
    transform-over-1-element-array also fixes the CSE problem but breaks
    Python-UDF extraction when the result feeds a pandas UDF — the whole
    projection falls back to interpreted eval.)"""
    w = tokens(text)
    n = F.size(w)
    cnt = n - (k - 1)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, cnt).alias(f"g{i}") for i in range(k)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)]))
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", w)))
    )


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Shingles hashed to int64 JVM-side — the MinHash input. Hashing
    strings with xxhash64 here keeps all string work out of Python; the
    pandas UDF only sees fixed-width integers."""
    return F.transform(word_shingles(text, k), lambda s: F.xxhash64(s))


def normalized(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum
    (keeping spaces), collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return t


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (portable to the
    DuckDB oracle, unlike xxhash64)."""
    return F.md5(normalized(text))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals."""
    n_chars = F.length(text)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS])))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": F.round(
            (F.length(F.regexp_replace(text, r"\s+", "")) / safe_tokens).cast("double"), 4
        ),
        "stopword_ratio": F.round((n_stop / safe_tokens).cast("double"), 4),
        "punct_ratio": F.round((n_punct / F.greatest(n_chars, F.lit(1))).cast("double"), 4),
    }


def quality_score(text: Column) -> Column:
    """A single [0,1] quality score from the features — simple, monotone,
    and SQL-portable: longer docs with some stopwords and low punctuation
    score higher."""
    f = quality_features(text)
    length_term = F.least(f["n_tokens"] / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(f["punct_ratio"] * 5.0, F.lit(1.0))
    # round to 6: the terms carry at most 6 decimal digits (inputs are
    # 4-decimal ratios scaled by 0.25/5), so 6-decimal rounding is exact
    # and never lands on a cross-engine rounding boundary — round(.,4)
    # would sit on .xxxx5 boundaries and diverge from the SQL oracle
    return F.round((0.5 * length_term + 0.25 * stop_term + 0.25 * punct_term), 6)


def language_id(text: Column) -> Column:
    """Rule-based language ID: count marker-word hits per language, pick
    the max (deterministic tie-break by language code order, 'und' when
    nothing matches)."""
    toks = tokens(F.lower(text))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed so earlier languages win ties via later overwrite
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            result
        )
    return result


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4, algo: str = "xxhash64") -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the rolling-hash dedup classic): hash every char k-gram,
    then keep the minimum hash of each sliding window of ``w``
    consecutive k-gram hashes. Guarantees: any shared substring of
    length >= k + w - 1 between two documents yields at least one shared
    fingerprint. All JVM column expressions; the "rolling" update trick
    is an implementation detail of scalar engines — the vectorized
    equivalent hashes each gram independently (same output set).

    Returns a sorted distinct array<long> of selected hashes.

    POSITIONAL k-grams (no dedup — winnowing's window semantics are
    positional), and the sliding-window minimum is arrays_zip of ``w``
    shifted slices + least(), NOT slice() inside a transform lambda —
    the in-lambda form re-evaluates the whole gram-hash array per
    window element (the lambda-CSE trap, see word_shingles)."""
    ln = F.length(text)
    grams = F.when(
        ln >= k,
        F.transform(F.sequence(F.lit(1), ln - (k - 1)), lambda i: text.substr(i, F.lit(k))),
    ).otherwise(F.array(text))
    if algo == "md5_32":
        # oracle-portable: first 32 bits of md5 as an integer — DuckDB
        # computes the identical value (CAST('0x'||substr(md5(g),1,8)))
        def h(g):
            return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
    else:

        def h(g):
            return F.xxhash64(g)

    hashes = F.transform(grams, h)
    n_win = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(hashes, i + 1, n_win).alias(f"h{i}") for i in range(w)])
    # short arrays: trailing zip fields are null; least() ignores nulls
    mins = F.transform(zipped, lambda s: F.least(*[s[f"h{i}"] for i in range(w)]))
    return F.array_sort(F.array_distinct(mins))

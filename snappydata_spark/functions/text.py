"""Text-analysis column builders — all pure Catalyst expressions (no
Python UDFs: everything stays inside whole-stage codegen, so these run at
parquet-scan speed over 100 TB of documents).

Families: tokenization, quality metrics, language-ID (marker heuristic),
document fingerprinting, shingling — the text side of a training-data
pipeline (SURVEY.md §7 M6).  The near-dup signatures (MinHash, SimHash,
shingle hash sets) are computed by the Python featurizers in dedup/,
with the same tokens() semantics.

Cross-engine determinism: every hash is md5-derived (identical bytes in
Spark and DuckDB), so each operator has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# marker-word votes for the language-ID heuristic, checked in a fixed
# priority order (deterministic argmax)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "las", "y"),
    "zh": ("de", "shi", "bu", "le"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the baseline token counter).  Empty /
    whitespace-only text yields [] — a bare split returns [''], giving
    empty documents token_count=1 and a non-zero quality score."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != "")


# tokens() of a `text` column in DuckDB, for the registry oracles.  The
# class is Java's \s spelled out: RE2's \s lacks the vertical tab.
TOKENS_SQL = (
    r"list_filter(regexp_split_to_array(trim(text), '[\t\n\v\f\r ]+'), x -> x <> '')"
)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bigrams(token_array: Column) -> Column:
    """Adjacent token pairs from a MATERIALIZED token array column.
    Callers must select the token array into its own column first —
    inlining tokens(text) here would re-split the text once per slice
    (O(tokens²) work inside zip_with)."""
    return F.zip_with(
        F.slice(token_array, 1, F.size(token_array) - 1),
        F.slice(token_array, 2, F.size(token_array) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t)


def stopword_ratio(col: Column) -> Column:
    t = tokens(col)
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(t)


def quality_score(col: Column) -> Column:
    """Composite heuristic quality score in [0,1]: enough tokens, not
    stopword-soup, plausible word lengths — the cheap pre-filter stage of
    a training-data pipeline."""
    tc = token_count(col).cast("double")
    return (
        0.4 * F.least(F.lit(1.0), tc / 50.0)
        + 0.3 * (1.0 - stopword_ratio(col))
        + 0.3 * F.least(F.lit(1.0), avg_token_len(col) / 6.0)
    )


def _count_in(t: Column, markers: tuple[str, ...]) -> Column:
    # helper (not an inline default-arg lambda: PySpark infers higher-order
    # lambda arity from the signature, so extra params break it)
    return F.size(F.filter(t, lambda x: x.isin(*markers)))


def lang_id(col: Column) -> Column:
    """Marker-word language vote; ties resolve in LANG_MARKERS order."""
    t = tokens(col)
    votes = {
        lang: _count_in(t, markers) for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*votes.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((votes[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def normalize_text(col: Column) -> Column:
    """Whitespace-collapse + lowercase — canonical form for fingerprints."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Full-document content fingerprint (md5 of normalized text)."""
    return F.md5(normalize_text(col))


def prefix_fingerprint(col: Column, n_tokens: int = 3) -> Column:
    """Fingerprint of the first n tokens — the cheap blocking key."""
    return F.md5(F.concat_ws(" ", F.slice(tokens(col), 1, n_tokens)))


def shingles_of(token_array: Column, n: int = 3) -> Column:
    """n-token shingles from a MATERIALIZED token array column.  Callers
    on hot paths must select tokens(text) into its own column first (the
    bigrams() rationale): inlining tokens() duplicates the split into
    every element_at — n re-splits of the full text PER SHINGLE, which
    measured as ~20x wall on the 13-gram decontamination stages
    (pipeline_end_to_end first-run 38 s → 2.3 s at sf0.1, r6)."""
    # guard: sequence(1, 0) in Spark is DESCENDING [1, 0] — must special-case
    # docs shorter than n tokens to an empty shingle set
    idx = F.when(
        F.size(token_array) >= n,
        F.sequence(F.lit(1), F.size(token_array) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(token_array, i + j) for j in range(n)]
        ),
    )


def shingles(col: Column, n: int = 3) -> Column:
    """n-token shingles (the unit set for Jaccard / MinHash).  Inline
    form for cheap/one-shot use; hot paths stage tokens and call
    shingles_of."""
    return shingles_of(tokens(col), n)


def hash32(col: Column, seed: str) -> Column:
    """Deterministic 32-bit hash identical in Spark and DuckDB:
    first 8 hex chars of md5(seed || value) as an unsigned int."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 8), 16, 10).cast(
        "long"
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_pieces(col: Column) -> Column:
    """BPE-ish piece split (letters / digit runs / punctuation runs — the
    coarse pre-tokenization GPT-style BPE applies before merges).  Kept to
    an ASCII class pattern so Java regex (Spark) and RE2 (oracle) agree."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def rolling_fingerprint(col: Column, k: int = 5) -> Column:
    """Rolling-hash document fingerprint: hash every k-char gram, keep the
    minimum (the 1-fingerprint case of winnowing; robust to edits outside
    the minimizing gram, unlike whole-document md5).  Map-side only."""
    n = F.length(col)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.substring(col, i, k))
    return F.array_min(F.transform(grams, lambda g: hash32(g, "fp~")))

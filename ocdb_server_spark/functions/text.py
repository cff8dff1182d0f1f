"""Text-analysis column expressions (north-star LLM-pipeline ops).

Everything here is a pure JVM expression over a text/tokens column —
no Python UDFs, no shuffles — so each runs inside whole-stage codegen
at scan speed. Shuffling ops built on these (near-dup joins etc.) live
in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Marker words for the n-gram-heuristic language ID (op91): disjoint
# token sets whose hit counts vote per language. With real corpora the
# sets come from per-language frequency tables; the synthetic corpus
# shares one vocabulary, so the point is the *deterministic, portable
# scoring plumbing*, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("table", "row"),
    "en": ("the", "a"),
    "es": ("join", "filter"),
    "fr": ("value", "data"),
    "zh": ("hash", "scan"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "to", "and", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased."""
    return F.split(F.lower(text), " ")


def token_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in `words` (JVM filter, no explode)."""
    lits = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lits, t)))


def let_once(val: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``val`` ONCE and
    hand it to ``body`` as a lambda variable. Spark has no expression-
    level CSE in the interpreted evaluator higher-order functions run
    under, so a subexpression referenced N times in one Column is
    EVALUATED N times per row — ``transform(array(val), v -> body(v))
    [1]`` pins it to one evaluation (the array literal materializes
    the value; every reference inside the lambda is a variable
    lookup). Measured round 19 on winnow_fingerprints: the doubling
    steps referenced their input twice each and op94 referenced the
    final array three times — 0.93 s → 0.17 s at sf0.1 with the same
    values, purely from removing the re-evaluations (guide §1.2:
    don't compute things you throw away)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def winnow_fingerprints(text: Column, k: int = 5, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03):
    rolling k-gram hashes, minimum per sliding window, distinct set.
    Guarantees any shared substring of length ≥ k + window − 1 yields a
    shared fingerprint — the standard local dedup/plagiarism sketch.

    The rolling min is computed by doubling — window 4 = pairwise min
    with shift 1, then with shift 2 — so the expression stays O(len ·
    log window) per row. (The naive `array_min(slice(grams, j, w))`
    inside a transform re-evaluates the whole gram expression PER
    ELEMENT: O(len²) — measured 25 s vs 0.7 s over sf0.1 documents.)
    Each doubling step references its input twice (zip_with + slice),
    so the step input is let-bound (let_once) — without the binding
    the interpreted HOF evaluator recomputes the gram array per
    reference, ~4× the work for window 4 (round-19 measurement).
    `least` is null-skipping, so zip_with's null tail padding is
    harmless; the final slice trims to the complete windows."""
    if window & (window - 1):
        raise ValueError("window must be a power of two (doubling rolling-min)")
    n_grams = F.greatest(F.length(text) - (k - 1), F.lit(0))
    m = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(text.substr(i, F.lit(k))),
    )

    def _roll(s: int):
        # factory closure: PySpark derives HOF arity from the lambda
        # signature, so the step body must take exactly (mm) — a
        # defaulted second arg would flip transform into (elem, idx)
        # form and bind the shift to the array index
        return lambda mm: F.zip_with(
            mm,
            F.slice(mm, s + 1, F.greatest(F.size(mm) - s, F.lit(0))),
            lambda x, y: F.least(x, y),
        )

    shift = 1
    while shift < window:
        m = let_once(m, _roll(shift))
        shift *= 2
    n_windows = F.greatest(n_grams - (window - 1), F.lit(0))
    return F.array_distinct(F.slice(m, 1, n_windows))

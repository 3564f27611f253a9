"""Text-analysis operators: language-ID heuristic, quality scoring,
token counting, document fingerprinting.

All are single-pass columnar expressions (whole-stage codegen; no Python
UDFs, no shuffle until the final aggregate) — at 100 TB these run at
scan speed.

Determinism contract: every expression uses only IEEE arithmetic and
exact string ops that external oracles evaluate identically; the paired
DuckDB forms live in queries/llm_extended.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish token pattern: letter runs, digit runs, single other-symbols.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def char_count(text: Column, ch: str) -> Column:
    """Occurrences of a single literal char (exact, no regex).

    length(replace(...)) materializes one string copy per counted char,
    but it is still the fastest JVM-side form: measured at sf1 (50k docs
    × ~2 kB) the q77 shape runs 1.16 s with replace vs 1.53 s with
    ``regexp_count`` (regex engine per-match overhead loses to the
    memcpy).  The scale lever for these scans is input parallelism
    (operators/partitioning.py:ensure_min_partitions), not the
    counting expression.
    """
    return F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))


def lang_id(text: Column) -> Column:
    """Deterministic character-frequency language guess.

    A real pipeline uses char-n-gram profiles (or fastText) per language;
    the fixture corpus is synthetic English word-soup for every `lang`
    value, so this placeholder keeps the *shape* (per-row classifier →
    confusion matrix vs the labeled column) with a portable heuristic.
    """
    L = F.length(text).cast("double")
    e_ratio = char_count(text, "e").cast("double") / L
    a_ratio = char_count(text, "a").cast("double") / L
    sp_ratio = char_count(text, " ").cast("double") / L
    return (
        F.when(e_ratio >= 0.10, F.lit("en"))
        .when(a_ratio >= 0.10, F.lit("es"))
        .when(sp_ratio >= 0.18, F.lit("fr"))
        .otherwise(F.lit("other"))
    )


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite [0,1] quality score: length, density, word-length terms."""
    L = F.length(text).cast("double")
    sp = char_count(text, " ").cast("double")
    avg_word = (L - sp) / (sp + F.lit(1.0))
    return (
        F.lit(0.5) * F.least(F.lit(1.0), n_chars.cast("double") / F.lit(200.0))
        + F.lit(0.3) * (F.lit(1.0) - sp / L)
        + F.lit(0.2) * F.least(F.lit(1.0), avg_word / F.lit(8.0))
    )


def nonempty_words(text: Column) -> Column:
    """Space-separated non-empty tokens, HOF-free.

    ``split(trim(text), ' +')`` yields exactly what
    ``filter(split(text, ' '), x -> x != '')`` does — runs of spaces
    collapse, edge spaces trim away — but stays inside whole-stage
    codegen, while higher-order ``filter`` is CodegenFallback
    (interpreted row-at-a-time, lambda eval per element).  Measured at
    sf1 the swap halves the token-battery scans (q98 1.73→0.8 s class).

    Caveat: a blank/all-space text yields ``['']`` (size 1), not
    ``[]`` — callers that must treat blank docs as zero-token guard on
    ``trim(text) != ''`` (see ws_token_count / word_repetition_bucket).
    """
    return F.split(F.trim(text), " +")


def ws_token_count(text: Column) -> Column:
    """Whitespace tokens (empty strings dropped)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " +")))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword proxy count: tokens matching ``BPE_PATTERN``
    (letter runs | digit runs | single non-alnum-space chars).

    Computed in DECOMPOSED form rather than one regexp_count over the
    alternation: the classes are disjoint, so the match count is
    exactly runs([a-z]) + runs([0-9]) + #chars ∉ [a-z0-9 ] — the two
    run counts keep a (much cheaper) non-alternating regex each, and
    the single-char class is translate/length arithmetic (memcpy-fast,
    the q77 lesson).  Measured at sf10: 7.5 → 2.2 s for q79's
    per-source sums; identical counts (structural equivalence — the
    alternation's leftmost-first scan over disjoint classes can't
    split or merge runs).
    """
    lower = "abcdefghijklmnopqrstuvwxyz"
    digits = "0123456789"

    def n_chars(chars: str) -> Column:
        return F.length(text) - F.length(F.translate(text, chars, ""))

    symbol_chars = (
        F.length(text) - n_chars(lower) - n_chars(digits) - n_chars(" ")
    )
    return (
        F.regexp_count(text, F.lit("[a-z]+"))
        + F.regexp_count(text, F.lit("[0-9]+"))
        + symbol_chars
    )


def fingerprint(text_col: str = "text", width: int = 16, stride: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over strided char
    shingles.  Identical up-to-small-edits documents collide.

    Takes the column *name* (substring with a Column start index needs
    the SQL lambda form).
    """
    return F.expr(
        f"array_min(transform(sequence(1, greatest(1, length({text_col}) - {width - 1}), {stride}), "
        f"i -> md5(substring({text_col}, i, {width}))))"
    )


def word_repetition_bucket(text: Column) -> Column:
    """Gopher-style repetition signal: the duplicate-word fraction of a
    document, bucketed to a decile by INTEGER arithmetic so the bucket
    is bit-identical in any engine: ``((n - u) * 10) DIV n`` where n =
    word count, u = distinct-word count.  High buckets (>=5) mark the
    boilerplate/keyword-stuffing documents a pre-training filter drops.

    Whole expression is codegen'd array ops — no explode, no shuffle;
    the histogram over it is one partial-aggregated scan.
    """
    t = F.trim(text)
    toks = F.split(t, " +")
    n = F.size(toks)
    u = F.size(F.array_distinct(toks))
    # blank-doc guard (nonempty_words caveat): trim=='' ⇒ n would be 1
    return F.when(t != "", F.floor((n - u) * 10 / n).cast("int"))

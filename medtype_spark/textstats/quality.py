"""Text-analysis operators for training-data pipelines.

Language-ID (marker-word heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting.  All pure ``pyspark.sql.functions`` — JVM-side
whole-stage-codegen, no Python in the hot path; filters over these
columns push down to the parquet scan.  Every operator reads documents
as ``(doc_id, text)`` and keys its output by ``doc_id``.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A tiny per-language marker vocabulary (top function words).  The
# heuristic is a toy, but its *shape* — broadcast marker table + array
# intersection counts — is the scalable pattern.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "una"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

# BPE-ish token regex: word pieces, numbers, or single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of a string Column, empty tokens dropped."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens (JVM regexp_count)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


@lru_cache(maxsize=1)
def _quality_cols() -> tuple:
    """Column expressions of quality_features over ``text``, built once
    (r6): Column trees are immutable plan fragments bound to an
    unresolved name, so they are safely reusable across DataFrames —
    and each construction costs dozens of py4j round-trips, which
    dominated repeated query builds under this sandbox's syscall
    emulation.  (Caveat: cached Columns wrap JVM objects, so they are
    valid for the life of the python process's JVM — the repo's
    tools/tests use one JVM per process.)"""
    text = F.col("text")
    toks = tokens(text)
    n_toks = F.size(toks)
    n_chars = F.length(text)
    n_alpha = n_chars - F.length(F.regexp_replace(text, r"[A-Za-z]", ""))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    return (
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        F.when(n_toks == 0, F.lit(0.0)).otherwise(n_chars / n_toks).alias("avg_token_len"),
        F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alpha / n_chars).alias("alpha_ratio"),
        F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars).alias("punct_ratio"),
        F.when(n_toks == 0, F.lit(0.0)).otherwise(n_stop / n_toks).alias("stopword_ratio"),
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Per-doc quality features: lengths, ratios, stopword share."""
    return df.select(F.col("doc_id"), *_quality_cols())


# The 8 "required stop words" of the published Gopher quality filter
# (Rae et al. 2021, "Scaling Language Models", Appendix A): a document
# must contain at least 2 of them to pass.
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Symbols counted by Gopher's symbol-to-word rule; bullet prefixes and
# ellipsis suffixes for the line-shape rules.
_SYMBOL_RE = r"#|…|\.\.\."
_BULLET_RE = r"^[•‣▪\-\*]"
_ELLIPSIS_END_RE = r"(\.\.\.|…)$"


def gopher_quality(df: DataFrame) -> DataFrame:
    """Gopher-rule quality signals (Rae et al. 2021, Appendix A) as
    pure-JVM columns, plus the composite ``gopher_pass`` verdict.

    Every threshold decision is made on INTEGER cross-multiplication
    (e.g. ``10*n_symbols <= n_tokens`` instead of ``ratio <= 0.1``) so
    the verdict is bit-portable across engines; the ratio columns are
    informational, rounded to 6dp.

    Rules: 50 <= words <= 100k; mean word length in [3, 10]; symbol
    ('#'/ellipsis)-to-word ratio <= 0.1; <= 90% of lines bullet-led;
    <= 30% of lines ellipsis-ended; >= 80% of words contain an
    alphabetic char; >= 2 of the 8 required stop words present; plus
    the repetition rules: duplicate-line fraction (occurrences beyond
    the first / total lines) <= 0.30 and duplicate-line CHAR fraction
    (chars in those repeat occurrences / total line chars) <= 0.20.
    The repetition signals are computed entirely with array
    higher-order functions (``array_distinct`` + ``aggregate``) — no
    explode, no shuffle; per-doc work is bounded by line count.
    """
    return df.select(F.col("doc_id"), *_gopher_quality_cols())


@lru_cache(maxsize=1)
def _gopher_quality_cols() -> tuple:
    """gopher_quality's Column expressions over ``text``, built once
    (r6, see _quality_cols)."""
    text = F.col("text")
    toks = tokens(text)
    toks_lower = F.transform(toks, lambda t: F.lower(t))
    n_toks = F.size(toks)
    word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_symbols = F.regexp_count(text, F.lit(_SYMBOL_RE))
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)  # >= 1: splitting '' yields ['']
    n_bullet = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(_BULLET_RE)))
    n_ellipsis = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(_ELLIPSIS_END_RE)))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    req_arr = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_req = F.size(F.filter(req_arr, lambda w: F.array_contains(toks_lower, w)))
    distinct_lines = F.array_distinct(lines)
    n_distinct = F.size(distinct_lines)
    line_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l)), F.lit(0), lambda a, x: a + x
    )
    distinct_chars = F.aggregate(
        F.transform(distinct_lines, lambda l: F.length(l)), F.lit(0), lambda a, x: a + x
    )
    n_dup_lines = n_lines - n_distinct
    dup_chars = line_chars - distinct_chars
    gopher_pass = (
        (n_toks >= 50) & (n_toks <= 100_000)
        & (word_chars >= 3 * n_toks) & (word_chars <= 10 * n_toks)
        & (10 * n_symbols <= n_toks)
        & (10 * n_bullet <= 9 * n_lines)
        & (10 * n_ellipsis <= 3 * n_lines)
        & (10 * n_alpha_words >= 8 * n_toks)
        & (n_req >= 2)
        & (10 * n_dup_lines <= 3 * n_lines)
        & ((line_chars == 0) | (5 * dup_chars <= line_chars))
    )
    zero = F.lit(0.0)
    return (
        F.when(n_toks == 0, zero).otherwise(
            F.round(word_chars / n_toks, 6)
        ).alias("mean_word_len"),
        F.when(n_toks == 0, zero).otherwise(
            F.round(n_symbols / n_toks, 6)
        ).alias("symbol_word_ratio"),
        F.round(n_bullet / n_lines, 6).alias("bullet_line_ratio"),
        F.round(n_ellipsis / n_lines, 6).alias("ellipsis_line_ratio"),
        F.when(n_toks == 0, zero).otherwise(
            F.round(n_alpha_words / n_toks, 6)
        ).alias("alpha_word_ratio"),
        n_req.alias("n_req_stopwords"),
        F.round(n_dup_lines / n_lines, 6).alias("dup_line_ratio"),
        F.when(line_chars == 0, zero).otherwise(
            F.round(dup_chars / line_chars, 6)
        ).alias("dup_line_char_ratio"),
        # int flag, not boolean: keeps the cross-engine strict compare
        # on integer reprs (engines disagree on bool dtype round-trips)
        gopher_pass.cast("int").alias("gopher_pass"),
    )


# Gopher repetition rules (Rae et al. 2021, Table A1, n-gram half):
# (n, kind, threshold as an exact rational).  "top" = fraction of word
# characters inside occurrences of the single most frequent n-gram;
# "dup" = fraction inside ALL occurrences of n-grams that appear more
# than once (a documented simplification shared by public
# reimplementations: overlapping occurrences are not de-duplicated).
GOPHER_NGRAM_RULES = [
    (2, "top", (1, 5)),    # <= 0.20
    (3, "top", (9, 50)),   # <= 0.18
    (4, "top", (4, 25)),   # <= 0.16
    (5, "dup", (3, 20)),   # <= 0.15
    (10, "dup", (1, 10)),  # <= 0.10
]


def _rep_run_stats(toks_sql: str, n: int):
    """(top_mass, dup_mass) of the doc's word n-grams, ROW-LOCALLY.

    Sort the gram array, then one ``aggregate`` pass reduces each run
    of equal grams: run length = occurrence count, char mass of a run
    = count × (len(gram) − (n−1) separator spaces).  "Most frequent"
    keeps the FIRST run that strictly exceeds the best-so-far count —
    the array is sorted, so ties resolve to the lexicographically
    smallest gram, exactly the old min_by((−cnt, gram)) tie-break.
    A run of length 0 (initial state) closes harmlessly (0 > 0 and
    0 > 1 are both false), so the empty-array case needs no special
    path and yields (0, 0).

    Emitted as ONE ``F.expr`` SQL string: the Column-API form of this
    expression took ~110 py4j round-trips per rule to construct
    (~1.2 s of pure DataFrame-BUILD time per q17 invocation under this
    sandbox's syscall emulation); the SQL text is parsed JVM-side in
    one call.  ``toks_sql`` is the SQL name of the token-array column.
    """
    # sequence(1, sz-n+1) is DESCENDING when sz < n (Spark yields
    # [1, 0], not []), so short docs short-circuit to an empty array.
    sep = n - 1
    mass_prev = f"(acc.run * (CAST(length(acc.prev) AS BIGINT) - {sep}L))"
    closed_top_cnt = "(CASE WHEN acc.run > acc.top_cnt THEN acc.run ELSE acc.top_cnt END)"
    closed_top_mass = (
        f"(CASE WHEN acc.run > acc.top_cnt THEN {mass_prev} ELSE acc.top_mass END)"
    )
    closed_dup = f"(CASE WHEN acc.run > 1L THEN acc.dup + {mass_prev} ELSE acc.dup END)"
    same = "(acc.prev IS NOT NULL AND g = acc.prev)"
    return F.expr(f"""
      aggregate(
        array_sort(
          CASE WHEN size({toks_sql}) >= {n}
               THEN transform(sequence(1, size({toks_sql}) - {sep}),
                              i -> concat_ws(' ', slice({toks_sql}, i, {n})))
               ELSE CAST(array() AS array<string>) END),
        named_struct('prev', CAST(NULL AS string), 'run', 0L,
                     'top_cnt', 0L, 'top_mass', 0L, 'dup', 0L),
        (acc, g) -> named_struct(
          'prev', g,
          'run', CASE WHEN {same} THEN acc.run + 1L ELSE 1L END,
          'top_cnt', CASE WHEN {same} THEN acc.top_cnt ELSE {closed_top_cnt} END,
          'top_mass', CASE WHEN {same} THEN acc.top_mass ELSE {closed_top_mass} END,
          'dup', CASE WHEN {same} THEN acc.dup ELSE {closed_dup} END),
        acc -> named_struct(
          'top_mass', {closed_top_mass},
          'dup_mass', {closed_dup}))
    """)


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher n-gram repetition signals as ONE row-local projection.

    (r6) Each rule's top-gram / duplicated-gram character mass is a
    pure function of the document's own token array, so it is computed
    with a sorted-array run-length ``aggregate`` per rule
    (:func:`_rep_run_stats`) — the old explode emitted ~Σ(len−n+1)
    (doc, n, gram) rows per doc (≈260/doc, a multi-hundred-MB shuffle
    per 50k docs at sf1.0 since grams are mostly distinct and partial
    aggregation cannot collapse them) through a 3-level groupBy + join.
    Now: zero shuffles, zero joins; per-doc work is O(grams log grams).
    Character mass of one occurrence = length of the gram minus its
    n−1 separator spaces; the denominator is the doc's total word
    characters.  Ties for "most frequent" break to the
    lexicographically smallest gram (engine-portable).  The composite
    ``gopher_rep_pass`` verdict compares integer cross-products only
    (e.g. ``50*chars <= 9*wc`` for the 0.18 bound) — bit-portable, no
    float thresholds.  Docs with fewer than n tokens contribute no
    n-grams and pass that rule trivially, matching the published
    filter.  Differential-tested against a pure-python reference
    (tests/test_textstats.py) and the unchanged window-ranked oracle.
    """
    toks = F.transform(tokens(F.col("text")), lambda t: F.lower(t))
    base = df.select(
        F.col("doc_id"),
        toks.alias("_toks"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        ).alias("_wc"),
    )
    stat_cols = {
        n: _rep_run_stats("_toks", n).alias(f"_st{n}")
        for n, _kind, _thr in GOPHER_NGRAM_RULES
    }
    staged = base.select(F.col("doc_id"), F.col("_wc"), *stat_cols.values())
    zero = F.lit(0.0)
    ratio_cols, pass_expr = [], F.lit(True)
    for n, kind, (num, den) in GOPHER_NGRAM_RULES:
        chars = F.col(f"_st{n}")["top_mass" if kind == "top" else "dup_mass"]
        ratio_cols.append(
            F.when(F.col("_wc") == 0, zero)
            .otherwise(F.round(chars / F.col("_wc"), 6))
            .alias(f"{kind}_{n}gram_char_ratio")
        )
        # chars/wc <= num/den  <=>  den*chars <= num*wc  (wc=0 -> pass)
        pass_expr = pass_expr & (den * chars <= num * F.col("_wc"))
    return staged.select(
        F.col("doc_id"),
        *ratio_cols,
        pass_expr.cast("int").alias("gopher_rep_pass"),
    )


@lru_cache(maxsize=1)
def _predict_lang_col():
    """predict_lang's Column expression over ``text``, built once
    (r6, see _quality_cols)."""
    toks = F.transform(tokens(F.col("text")), lambda t: F.lower(t))
    scores = []
    for i, lang in enumerate(sorted(LANG_MARKERS)):
        marker_arr = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        # neg_idx: ties on hits resolve to the alphabetically-first lang
        scores.append(
            F.struct(
                hits.alias("hits"),
                F.lit(-i).alias("neg_idx"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    predicted = F.when(best["hits"] == 0, F.lit("und")).otherwise(best["lang"])
    return predicted.alias("pred_lang")


def predict_lang(df: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hits.

    Deterministic tie-break by language code; 'und' when no marker hits.
    """
    return df.select(F.col("doc_id"), _predict_lang_col())


def fingerprint(df: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-
    collapsed, punctuation-stripped text (portable across engines)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return df.select(F.col("doc_id"), F.md5(norm).alias("fingerprint"))

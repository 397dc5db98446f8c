"""Cross-document shared n-gram detection (fuzzy-substring-dedup signal).

The RefinedWeb/"deduplicate-text-datasets" family removes text SPANS
that recur across documents (Lee et al. 2021 use a suffix array; the
production approximation everyone ships is n-gram-grain).  This
operator computes the per-document evidence table for that decision:
how many of the doc's distinct word n-grams also occur in at least one
OTHER document, and how viral its most-duplicated n-gram is.

Reference analogue: none (the reference dedups candidate lists, not
corpora) — this is one of the survey's beyond-reference training-data
pipeline components, sitting next to exact/minhash/simhash dedup in
`dedup/`.

Scale shape (100 TB):
- n-grams are deduplicated WITHIN the doc (``array_distinct``) before
  the explode, so the shuffle carries one row per distinct (doc, gram)
  — repeated boilerplate inside one doc costs nothing downstream;
- the doc-frequency aggregation is a map-side-combinable groupBy on
  the gram key (uniformly hashed, high cardinality);
- the join-back of (gram, doc_freq) onto (doc, gram) is gram-keyed and
  skew-prone exactly on viral boilerplate grams; AQE skew-join splits
  those, and a df-cap pre-filter (as in q16's SpotSigs plan) drops
  stop-phrase grams from BOTH sides if a corpus needs it;
- everything is JVM-side (split/slice/concat_ws/groupBy) — no Python
  in the hot path, and all decision arithmetic is integer-exact.

Both operators read documents as ``(doc_id, text)``, key their output
by ``doc_id`` and work on word 8-grams.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.textstats.quality import tokens


@lru_cache(maxsize=1)
def _gram_array():
    """Distinct-within-doc word 8-gram array of ``text``, built once —
    r6: column construction is py4j-round-trip-bound on this host;
    Columns are immutable plan fragments, safe to reuse.
    sequence(1, sz-7) is DESCENDING when sz < 8 (Spark yields [1, 0],
    not []), so short docs short-circuit to an empty array."""
    toks = tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 7),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _distinct_doc_ngrams(df: DataFrame) -> DataFrame:
    """One row per DISTINCT (doc_id, word 8-gram)."""
    return df.select(F.col("doc_id"), F.explode(_gram_array()).alias("gram"))


def cross_doc_shared_ngrams(df: DataFrame) -> DataFrame:
    """Per-doc cross-document 8-gram duplication stats.

    Returns one row per input doc:
      - ``n_distinct_ngrams``: distinct word 8-grams in the doc;
      - ``n_shared_ngrams``: how many of those occur in >= 2 distinct
        docs corpus-wide (the doc itself counts once);
      - ``shared_ngram_ratio``: n_shared / n_distinct rounded to 6dp
        (0.0 for docs too short to form an 8-gram);
      - ``max_ngram_doc_freq``: document frequency of the doc's most
        widely shared 8-gram (0 when the doc has no 8-grams).

    Tokens are whitespace-split (``\\s+`` on the trimmed text, empties
    dropped) and kept RAW — duplication is a byte-content question, so
    no case folding.  The HOF lambdas stay single-parameter (pyspark
    binds a second parameter to the element index).
    """
    base = df.select(F.col("doc_id"))
    dg = _distinct_doc_ngrams(df)
    dfreq = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    per_doc = (
        dg.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            F.sum((F.col("doc_freq") >= 2).cast("int")).alias("n_shared_ngrams"),
            F.max("doc_freq").alias("max_ngram_doc_freq"),
        )
    )
    out = base.join(per_doc, "doc_id", "left")
    n_distinct = F.coalesce(F.col("n_distinct_ngrams"), F.lit(0))
    n_shared = F.coalesce(F.col("n_shared_ngrams"), F.lit(0))
    return out.select(
        F.col("doc_id"),
        n_distinct.alias("n_distinct_ngrams"),
        n_shared.cast("long").alias("n_shared_ngrams"),
        F.when(n_distinct == 0, F.lit(0.0))
        .otherwise(F.round(n_shared / n_distinct, 6))
        .alias("shared_ngram_ratio"),
        F.coalesce(F.col("max_ngram_doc_freq"), F.lit(0)).cast("long").alias(
            "max_ngram_doc_freq"
        ),
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus docs that share any word
    8-gram with the benchmark set.

    The GPT-3 Appendix-C / PaLM / Llama training-data stage: before
    training, any document overlapping an EVALUATION set at n-gram
    grain is flagged (and usually dropped) so benchmark numbers
    measure generalization, not memorization.

    Scale shape: the benchmark side is distinct-gram-projected first —
    benchmarks are ~10^4-10^6 grams, corpus is ~10^12 docs — then the
    gram-keyed LEFT SEMI join flags corpus docs; Spark broadcasts the
    benchmark gram set when it fits (the common case), so the corpus
    is flagged in ONE pass with no corpus-side shuffle at all.

    Returns DataFrame(doc_id, contaminated int 0/1) — one row per
    corpus doc.
    """
    cg = _distinct_doc_ngrams(corpus)
    bg = _distinct_doc_ngrams(benchmark).select("gram").distinct()
    hits = cg.join(bg, "gram", "left_semi").select("doc_id").distinct()
    return corpus.select("doc_id").join(
        hits.withColumn("contaminated", F.lit(1)), "doc_id", "left"
    ).select(
        F.col("doc_id"),
        F.coalesce(F.col("contaminated"), F.lit(0)).alias("contaminated"),
    )

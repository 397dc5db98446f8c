"""Near-duplicate detection: shingling, MinHash, LSH banding, n-gram
Jaccard, and SimHash — all as declarative DataFrame plans.

Scale shape (the part that matters at 100 TB):
- shingle explode → minhash is a single groupBy(doc) with min() partial
  aggregation — no shuffle of raw shingles beyond the doc-keyed one;
- LSH banding turns all-pairs into an equi-join on (band, band_hash) —
  candidate pairs only, never the quadratic cross product;
- verification (exact Jaccard) runs only on LSH candidates.

Hashes are md5-based so the DuckDB oracle can reproduce them exactly
(both engines expose md5 over strings).

Every operator reads documents as ``(doc_id, text)`` and keys its
output by ``doc_id``; shingles are word 3-grams except SimHash's
2-grams.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medtype_spark.textstats.quality import tokens


@lru_cache(maxsize=2)
def word_shingles(n: int):
    """Array of n-word shingles from the whitespace tokens of ``text``,
    built once per n: the shingle tree costs dozens of py4j round-trips
    to construct, which dominated repeated query builds on this host
    (Columns are immutable plan fragments, safe to reuse across
    DataFrames)."""
    toks = tokens(F.col("text"))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def doc_shingles(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs."""
    return df.select(
        F.col("doc_id"), F.explode(word_shingles(3)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig: array<string>) — 16 MinHashes,
    sig[i] = min(md5(i || ':' || shingle)).

    md5-as-hash-family keeps the signature portable across engines; a
    production swap-in would be xxhash64 with seed i (cheaper, JVM).

    The k mins are k ``min()`` aggregate columns in ONE groupBy — the
    shuffle moves one row per (doc, partial) instead of the ×k row
    blow-up an explode(sequence(0, k-1)) would cost, and map-side
    partial aggregation reduces each input partition to |docs| rows
    before the exchange.
    """
    aggs = [
        F.min(
            F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
        ).alias(f"_mh{i}")
        for i in range(16)
    ]
    mins = shingles.groupBy("doc_id").agg(*aggs)
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"_mh{i}") for i in range(16)]).alias("sig"),
    )


def minhash_signatures_local(df: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig) computed ROW-LOCALLY — no explode, no shuffle (r6).

    sig[i] = array_min(transform(shingles, g -> md5(i || ':' || g))) is
    the same min-over-the-doc's-shingles as the explode+groupBy form
    (``min`` is duplicate-insensitive and md5 is the identical
    function), but the per-doc reduction happens inside one projection:
    the explode machinery, the hash aggregation and the doc-keyed
    exchange all disappear.  At 100 TB this is strictly better — the
    signature is a pure function of the document row, so the operator
    is embarrassingly parallel over the scan.  Equality with
    ``minhash_signatures(doc_shingles(df))`` at 16 hashes is
    pytest-asserted (tests/test_neardup.py)."""
    base = df.select(F.col("doc_id"), word_shingles(3).alias("_grams"))

    def _mh(i: int):
        return F.array_min(
            F.transform(
                F.col("_grams"),
                lambda g: F.md5(F.concat_ws(":", F.lit(str(i)), g)),
            )
        )

    return base.select(
        F.col("doc_id"),
        F.array(*[_mh(i) for i in range(num_hashes)]).alias("sig"),
    )


BANDS = 4


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature into ``BANDS`` bands; equi-join on (band,
    band_hash) → candidate pairs (a < b), deduplicated across bands."""
    banded = signatures.select(
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(BANDS - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id",
        "band",
        F.md5(
            F.concat_ws(
                "|",
                F.slice(
                    F.col("sig"),
                    F.col("band") * (F.size("sig") / F.lit(BANDS)).cast("int") + 1,
                    (F.size("sig") / F.lit(BANDS)).cast("int"),
                ),
            )
        ).alias("band_hash"),
    )
    a = banded.select(F.col("doc_id").alias("a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates()
    )


DF_CAP = 50


def capped_jaccard_pairs(shingles: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Exact Jaccard over the df-capped shingle space, in ONE self-join.

    Shingles appearing in more than ``DF_CAP`` documents (stop-phrases)
    are excluded from BOTH the intersection and the union — the SpotSigs
    stopword-filtering semantics (Theobald et al., SIGIR 2008).  This
    buys two scale properties at once: candidate generation is bounded
    (per-shingle work ≤ DF_CAP²) AND the intersection count falls out of
    the generation join itself, so there is no join-back of candidate
    pairs against full posting lists (the quadratic×fan-out stage that
    dominates a generate-then-verify plan).
    """
    dfreq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # ``rare`` feeds the sizes and both self-join sides.  A lazy local
    # checkpoint computes it once without registering it in the
    # session's CacheManager, where a persist would outlive the query
    # and be reused by the next call's identical plan.
    rare = shingles.join(
        dfreq.where(F.col("_df") <= DF_CAP).select("shingle"), "shingle"
    ).localCheckpoint(eager=False)

    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = rare.select(F.col("doc_id").alias("a"), "shingle")
    b = rare.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a",
            "b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= min_jaccard)


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (a, b) doc_id pairs:
    |A∩B| / |A∪B|."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = shingles.select(F.col("doc_id").alias("a"), "shingle")
    sb = shingles.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        candidates.join(sa, "a").join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a",
            "b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= min_jaccard)


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash over word 2-grams, JVM-side bit arithmetic.

    For each of 64 bit positions, sum +1/-1 votes of hash(shingle)
    bits weighted by shingle frequency; the sign vector packs into a
    long.  Near-dups differ in few bits (hamming distance ≤ k).

    The shingle hash is md5: bit b = bit b%4 of md5 hex digit b//4,
    identical arithmetic in DuckDB, so q50's oracle reproduces the full
    SimHash bit-for-bit.
    """
    sh = df.select(F.col("doc_id"), F.explode(word_shingles(2)).alias("shingle"))
    # parse each hex digit ONCE into an int array; the 64 bit probes
    # are then cheap shifts on array elements (16 instr calls per
    # shingle instead of 64)
    sh = sh.withColumn("h", F.md5("shingle")).withColumn(
        "dg",
        F.expr(
            "transform(sequence(1, 16), "
            "k -> instr('0123456789abcdef', substr(h, k, 1)) - 1)"
        ),
    )

    def bit(b):
        return F.expr(f"(shiftright(dg[{b // 4}], {b % 4}) & 1) = 1")

    # 64 vote sums as 64 aggregate columns in ONE groupBy — the old
    # explode(sequence(0,63)) multiplied shuffle rows ×64; this keeps
    # one row per doc and lets partial aggregation combine map-side.
    vote_aggs = [
        F.sum(F.when(bit(b), F.lit(1)).otherwise(F.lit(-1))).alias(f"_v{b}")
        for b in range(64)
    ]
    votes = sh.groupBy("doc_id").agg(*vote_aggs)
    packed = None
    for b in range(64):
        term = F.when(F.col(f"_v{b}") > 0, F.expr(f"shiftleft(1L, {b})")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return votes.select("doc_id", packed.alias("simhash"))

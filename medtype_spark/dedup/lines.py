"""CCNet-style corpus-level duplicate-line removal.

Web-scale motivation: boilerplate (navigation bars, cookie banners,
footers) is the dominant noise in Common-Crawl text, and the standard
first-pass fix (Wenzek et al. 2020, CCNet) is LINE-grain dedup across
the whole corpus: hash every line, keep exactly one occurrence of each
duplicated line, rewrite the documents.  This is the line-grain sibling
of `dedup/crossdoc.py`'s 8-gram evidence table — that one measures
fuzzy duplication, this one removes exact repeated lines.

Spark-first plan (one shuffle, no joins):

* split each doc into (id, line_no, line) via posexplode — narrow;
* lines SHORTER than ``MIN_LEN`` (20) characters bypass the shuffle
  entirely (kept verbatim): blank lines and one-word fragments are the hottest hash
  keys in any crawl, and exempting them both matches CCNet (it hashes
  normalized lines above a floor) and removes the worst skew before it
  reaches the exchange;
* one row_number window over (hash(line)) ordered by (id, line_no)
  marks the globally-first occurrence — the single hash-partitioned
  shuffle; map-side the exploded frame is already projected to three
  columns.  Residual hot keys (viral boilerplate) are bounded by AQE
  skew-split since the window key is the shuffle key;
* reassemble per doc with collect_list + array_sort (line_no is the
  leading struct field) — the groupBy(id) shuffle is doc-grain.

Determinism: the kept occurrence is the (id, line_no)-minimal one — a
pure function of the data, independent of partitioning and cluster
size (partition-invariance is tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MIN_LEN = 20


def dedup_corpus_lines(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Remove corpus-wide duplicate lines (newline-separated) from
    ``text_col``.

    Returns one row per input row: (id_col, text_dedup, n_lines,
    n_dup_lines_removed).  A line is removed when an identical line
    with a smaller (id, line_no) exists anywhere in the corpus and the
    line is at least ``MIN_LEN`` characters.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("line_no", "ln"),
    )
    short = lines.where(F.length("ln") < MIN_LEN).withColumn("keep", F.lit(True))
    w = Window.partitionBy(F.md5(F.col("ln"))).orderBy(id_col, "line_no")
    long_marked = lines.where(F.length("ln") >= MIN_LEN).withColumn(
        "keep", F.row_number().over(w) == 1
    )
    marked = short.unionByName(long_marked)

    assembled = marked.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("line_no", "ln", "keep"))).alias("_ls"),
    )
    kept = F.filter(F.col("_ls"), lambda x: x["keep"])
    return assembled.select(
        F.col(id_col),
        F.concat_ws("\n", F.transform(kept, lambda x: x["ln"])).alias("text_dedup"),
        F.size("_ls").alias("n_lines"),
        (F.size("_ls") - F.size(kept)).alias("n_dup_lines_removed"),
    )

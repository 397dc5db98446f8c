"""neleval annotation TSV I/O and span-grain evaluation operators.

Reproduces, Spark-first:

- S5: the annotation TSV grammar ``docid \\t start \\t end \\t
  candidates`` where the 4th column is one of: bare eid / eid+score /
  3n-tuple (eid, score, type) list, sorted best-first on parse
  (annotation.py:97-109, 210-228; Candidate sort annotation.py:108 via
  ``__lt__`` on score :205-207).
- S3/S4: gold & system TSV sinks (dump_linkers_output.py:8-16,
  eval_models.py:21-82).
- P10: the 'weak' char-level projection — explode each span into
  per-character annotations (neleval/weak.py:17-21).
- J14/A11: error-label classification + summary
  (neleval/analyze.py:16-31, 75-95).
- W3 is in operators/topk.py; the measures are in metrics/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANNOTATION_SCHEMA = T.StructType([
    T.StructField("docid", T.StringType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
    T.StructField("candidates", T.ArrayType(T.StructType([
        T.StructField("eid", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("type", T.StringType()),
    ]))),
])


def read_annotation_tsv(spark, path: str) -> DataFrame:
    """S5: parse annotation TSV (3 or 4+ columns) into the canonical
    annotation frame with best-first candidate arrays.

    Grammar per Candidate.from_string (annotation.py:210-228):
    1 extra col → eid only (score null→1.0, type null);
    2 → eid, score; 3n → (eid, score, type) tuples.
    """
    lines = spark.read.text(path).where(F.length(F.trim("value")) > 0)
    cols = F.split(F.regexp_replace("value", r"[\n\t]+$", ""), "\t")
    base = lines.select(
        F.element_at(cols, 1).alias("docid"),
        F.element_at(cols, 2).cast("long").alias("start"),
        F.element_at(cols, 3).cast("long").alias("end"),
        F.slice(cols, 4, F.greatest(F.size(cols) - 3, F.lit(0))).alias("rest"),
    )
    n = F.size("rest")
    one = F.array(F.struct(
        F.element_at("rest", 1).alias("eid"),
        F.lit(1.0).alias("score"),
        F.lit(None).cast("string").alias("type"),
    ))
    two = F.array(F.struct(
        F.element_at("rest", 1).alias("eid"),
        F.element_at("rest", 2).cast("double").alias("score"),
        F.lit(None).cast("string").alias("type"),
    ))
    triples = F.transform(
        F.sequence(F.lit(0), (n / 3).cast("int") - 1),
        lambda i: F.struct(
            F.element_at("rest", i * 3 + 1).alias("eid"),
            F.element_at("rest", i * 3 + 2).cast("double").alias("score"),
            F.element_at("rest", i * 3 + 3).alias("type"),
        ),
    )
    cands = (
        F.when(n == 0, F.array().cast(ANNOTATION_SCHEMA["candidates"].dataType))
        .when(n == 1, one)
        .when(n == 2, two)
        .otherwise(triples)
    )
    # best-first sort on parse (annotation.py:108): stable desc by score
    sorted_cands = F.reverse(F.array_sort(
        cands, lambda a, b: F.when(a["score"] < b["score"], -1).when(a["score"] > b["score"], 1).otherwise(0)
    ))
    return base.select("docid", "start", "end", sorted_cands.alias("candidates"))


def write_annotation_tsv(ann: DataFrame, path: str, mode: str = "overwrite"):
    """S3/S4: flat 6-col TSV sink (docid, start, end, eid, score, type),
    one row per top candidate (dump_linkers_output.py:13-16 shape)."""
    top = ann.select(
        "docid", "start", "end",
        F.col("candidates")[0]["eid"].alias("eid"),
        F.coalesce(F.col("candidates")[0]["score"], F.lit(1.0)).alias("score"),
        F.coalesce(F.col("candidates")[0]["type"], F.lit("O")).alias("type"),
    )
    top.write.mode(mode).option("sep", "\t").csv(path)


def weak_projection(ann: DataFrame) -> DataFrame:
    """P10: per-character ('weak') projection of spans
    (neleval/weak.py:17-21: each annotation becomes one annotation per
    char offset i in [start, end], emitted as the end-exclusive char
    span (i, i+1) — byte-compatible with ToWeak's output)."""
    return ann.select(
        "docid",
        F.explode(F.sequence("start", "end")).alias("start"),
        "candidates",
    ).withColumn("end", F.col("start") + 1)


# Exact reference spellings (analyze.py:19-31): the two "correct"
# labels are space-separated, the error labels hyphenated.
ERROR_LABELS = [
    "extra", "missing", "correct link", "wrong-link",
    "link-as-nil", "nil-as-link", "correct nil",
]


def classify_errors(gold: DataFrame, system: DataFrame) -> DataFrame:
    """J14: label each (docid,start,end) span pair per analyze.py:16-31.

    NIL ids begin with 'NIL' (annotation.py Candidate docstring).
    Returns (docid, start, end, gold_eid, sys_eid, label).
    """
    keys = ["docid", "start", "end"]
    g = gold.select(*keys, F.col("candidates")[0]["eid"].alias("gold_eid"))
    s = system.select(*keys, F.col("candidates")[0]["eid"].alias("sys_eid"))
    j = g.join(s, keys, "full_outer")
    is_g_nil = F.col("gold_eid").isNull() | F.col("gold_eid").startswith("NIL")
    is_s_nil = F.col("sys_eid").isNull() | F.col("sys_eid").startswith("NIL")
    label = (
        F.when(F.col("sys_eid").isNull() & F.col("gold_eid").isNotNull(), "missing")
        .when(F.col("gold_eid").isNull() & F.col("sys_eid").isNotNull(), "extra")
        .when(is_g_nil & is_s_nil, "correct nil")
        .when(is_g_nil & ~is_s_nil, "nil-as-link")
        .when(~is_g_nil & is_s_nil, "link-as-nil")
        .when(F.col("gold_eid") == F.col("sys_eid"), "correct link")
        .otherwise("wrong-link")
    )
    return j.select(*keys, "gold_eid", "sys_eid", label.alias("label"))


def error_summary(errors: DataFrame) -> DataFrame:
    """A11: Counter(label).most_common() (analyze.py:75-78)."""
    return errors.groupBy("label").agg(F.count(F.lit(1)).alias("n")).orderBy(
        F.desc("n"), F.asc("label")
    )

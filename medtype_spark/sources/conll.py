"""S8: CoNLL-2012-style coreference scan (coref_metrics.py:190-229).

The bracket grammar is inherently sequential WITHIN a file (a global
token counter + a stack per cluster id, with spans nesting across
lines), so the unit of parallelism is the FILE: ``wholetext`` read →
one task parses one file with ``input_file_name()`` as the document
id.  A CoNLL corpus is many files, so the scan still scales out; no
driver-side file loop.

Semantics reproduced from the reference reader:
- lines starting with '#' are skipped; blank lines are ignored (the
  reference asserts no spans remain open there);
- every other line increments the token index; the LAST column is the
  coref tag, a '|'-free-token concatenation of '(id', 'id)', '(id)';
- nested same-id spans use a stack (innermost closes first);
- of several spans closed on the same line with the same start, only
  the outermost (last-closed) survives.

Returns one row per mention: (docid, cluster, start, end) with
1-based inclusive token-line indexes.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TAG_PIECE = re.compile(r"\(?[^()|]+\)?")

CONLL_SCHEMA = T.StructType([
    T.StructField("docid", T.StringType()),
    T.StructField("cluster", T.StringType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
])


def parse_conll_coref(text: str) -> list[tuple[str, int, int]]:
    """(cluster, start, end) mentions from one file's contents."""
    out: list[tuple[str, int, int]] = []
    open_stacks: dict[str, list[int]] = {}
    i = 0
    for line in text.splitlines():
        if line.startswith("#"):
            continue
        cols = line.split()
        if not cols:
            if open_stacks:
                raise ValueError(f"spans still open at blank line: {sorted(open_stacks)}")
            continue
        i += 1
        tag = cols[-1]
        by_start: dict[int, str] = {}
        for piece in _TAG_PIECE.findall(tag):
            cid = piece.strip("()")
            if piece.startswith("("):
                open_stacks.setdefault(cid, []).append(i)
            if piece.endswith(")"):
                stack = open_stacks[cid]
                start = stack.pop()
                if not stack:
                    del open_stacks[cid]
                # same start+end on this line: later (outermost) wins
                by_start[start] = cid
        out.extend((cid, start, i) for start, cid in by_start.items())
    if open_stacks:
        raise ValueError(f"unclosed spans at end of file: {sorted(open_stacks)}")
    # cluster membership is a SET of spans in the reference
    return sorted(set(out))


def read_conll_coref(spark: SparkSession, dir_path: str) -> DataFrame:
    """Mention frame (docid, cluster, start, end) from a directory of
    ``.conll`` files."""
    files = (
        spark.read.option("pathGlobFilter", "*.conll").text(dir_path, wholetext=True)
        .withColumn("docid", F.input_file_name())
    )

    def parse(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for docid, text in zip(pdf["docid"], pdf["value"]):
                doc = docid.rsplit("/", 1)[-1]
                rows.extend(
                    (doc, cid, s, e) for cid, s, e in parse_conll_coref(text)
                )
            yield pd.DataFrame(rows, columns=["docid", "cluster", "start", "end"])

    return files.mapInPandas(parse, schema=CONLL_SCHEMA)


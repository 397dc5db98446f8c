"""M1: ScispaCy-style embedding-kNN candidate generation.

The reference's scispacy linker embeds every UMLS alias as a char-3gram
tfidf vector and retrieves candidates by approximate nearest neighbour
(entity_linkers.py:25-46).  Spark-first restatement with the same
vector family (hashed char-trigram bag, L2-normalized — the stub
scorer's featurizer, which is a REAL char-3gram embedding, not a
fake):

- alias vectors: dimension-sized (57k in the reference) — computed
  once, broadcast;
- mention vectors: computed per DISTINCT normalized form, not per
  mention instance — the Zipf vocabulary grain that survives 10^12
  documents — then the candidate lists broadcast-join back onto
  mention instances;
- retrieval: exact cosine top-k against the broadcast alias table
  (corpus-side work is |forms| × |aliases| with |aliases|
  dimension-sized), or LSH-bucketed via similarity.knn for huge alias
  tables.

Candidates are emitted best-first with 3dp scores, the
entity_linkers.py:44 contract, so downstream J8/J9 consume them
unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CAND_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("eid", T.StringType()),
    T.StructField("score", T.DoubleType()),
]))


def embedding_candidates(
    forms: DataFrame,
    lexicon: pd.DataFrame,
    k: int = 5,
) -> DataFrame:
    """Append top-k alias-embedding candidates per distinct form as
    ``emb_candidates``.

    ``forms``: any frame with a ``norm_form``; one candidate list is
    computed per distinct value (callers at mention grain should pass
    the distinct-form projection and join back).
    ``lexicon``: pandas (alias, eid[, ...]) — broadcast via closure.
    """
    import numpy as np

    spark = forms.sparkSession
    lex_b = spark.sparkContext.broadcast(
        lexicon[["alias", "eid"]].values.tolist()
    )

    out_schema = T.StructType(
        list(forms.schema.fields) + [T.StructField("emb_candidates", CAND_SCHEMA)]
    )

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from medtype_spark.functions.scoring import _featurize_counts
        from medtype_spark.operators.mentions import normalize_form_py

        rows = lex_b.value
        aliases = [normalize_form_py(a) for a, _ in rows]
        eids = [e for _, e in rows]
        # alias count matrix computed once per worker (the index-build
        # slot).  Cosine = exact-integer dot / (norm product): the dot
        # is float-exact (integer counts), so scores and their ordering
        # are bit-identical across engines — the DuckDB oracle for
        # q62 recomputes them from the same md5 trigram buckets.
        amat = _featurize_counts(pd.Series(aliases))
        anorm = np.linalg.norm(amat, axis=1)
        anorm[anorm == 0] = 1.0
        for pdf in pdfs:
            vals = pdf["norm_form"].fillna("")
            fmat = _featurize_counts(vals)
            fnorm = np.linalg.norm(fmat, axis=1)
            fnorm[fnorm == 0] = 1.0
            sims = (fmat @ amat.T) / np.outer(fnorm, anorm)
            cands_col = []
            for r in sims:
                order = np.argsort(-r, kind="stable")
                picked, seen = [], set()
                for idx in order:
                    if eids[idx] in seen:  # best alias per entity
                        continue
                    seen.add(eids[idx])
                    picked.append({"eid": eids[idx], "score": round(float(r[idx]), 3)})
                    if len(picked) == k:
                        break
                cands_col.append(picked)
            out = pdf.copy()
            out["emb_candidates"] = cands_col
            yield out

    return forms.mapInPandas(gen, schema=out_schema)

"""Batched semantic-type scoring — the "transformer" pandas UDF contract.

The reference scores each mention in its context window with a BERT
multi-label head over 24 coarse types, sigmoid-thresholded at 0.5
(medtype-as-service/server/medtype_serving/server/__init__.py:506-522;
context assembly :480-504; threshold default server/helper.py:73).

At sandbox scale there is no torch, so the *model* is a deterministic
stub with the identical contract and the identical Spark-side plumbing:

- iterator-of-batches pandas UDF → "weights" are materialized once per
  executor worker (exactly where a real checkpoint load would go, cf.
  .../server/__init__.py:73-83), then reused across Arrow batches;
- input = (mention, left/right context window), output =
  array<string> of predicted coarse types;
- deterministic & partition-invariant: pure function of the input row,
  seeded with the trainer's seed 1234 (medtype-trainer/medtype.py:430),
  so results are identical at local[8] vs local[32] — required for the
  reproducible F1 acceptance.

The stub "model": hashing-trick character-trigram features → fixed
pseudo-random linear head → sigmoid > 0.5.

Every pseudo-random ingredient (feature bucket, weight) is md5-derived
and the decision arithmetic is INTEGER-exact (raw trigram counts ×
integer weights; sigmoid(logit) > 0.5 ⟺ integer dot > 0), so a DuckDB
oracle reproduces predictions bit-for-bit — no engine-specific hashing
or float-summation-order sensitivity anywhere in the decision path.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, StringType

from medtype_spark.session import live_pandas_udf

# The 24 coarse semantic types of /root/reference/config/type2id.json.
COARSE_TYPES = [
    "Activities & Behaviors", "Anatomy", "Chemicals & Drugs",
    "Concepts & Ideas", "Devices", "Disease or Syndrome", "Disorders",
    "Finding", "Functional Concept", "Genes & Molecular Sequences",
    "Living Beings", "Mental or Behavioral Dysfunction",
    "Neoplastic Process", "Objects", "Occupations", "Organic Chemical",
    "Organizations", "Pathologic Function", "Pharmacologic Substance",
    "Phenomena", "Physiology", "Procedures", "Qualitative Concept",
    "Sign or Symptom",
]

N_FEATURES = 1024
SEED = 1234  # medtype-trainer/medtype.py:430
THRESHOLD = 0.5  # server/helper.py:73


def load_checkpoint() -> dict[str, np.ndarray]:
    """S12: model checkpoint load (.../server/__init__.py:73-83's
    load-weights slot).  Reads config/type_model.npz, real LEARNED
    weights (see tools/train_type_model.py) — a 2-layer relu net over
    the same token-id bag features the batched scorer builds, so the
    stub and the learned model are drop-in alternatives behind one
    contract.
    """
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "config",
        "type_model.npz",
    )
    with np.load(path) as z:
        return {k: z[k].astype(np.float64) for k in z.files}


def md5_bucket(s: str, mod: int) -> int:
    """First 8 hex chars of md5 as an int, modulo ``mod``.

    md5 — not Python ``hash`` (salted per process, would break
    partition-invariance) and not crc32 (absent from DuckDB) — so the
    same bucket is computable in SQL:
    ``list_sum(...instr('0123456789abcdef', substr(md5(s), i, 1))...)``.
    """
    return int(hashlib.md5(s.encode("utf-8", "replace")).hexdigest()[:8], 16) % mod


_STUB_W_CACHE: np.ndarray | None = None


def _load_stub_weights() -> np.ndarray:
    """Stand-in for the BERT checkpoint load (__init__.py:73-83).

    Integer-valued weights in [-1000, 1000], each a pure md5 function
    of its (feature, class) coordinate — reproducible in SQL, and
    integer so dot products are float-exact in any summation order.

    Cached in a module global, built once per process: the daemon
    preload (medtype_spark.daemon) builds it in the daemon, so every
    forked worker inherits it copy-on-write, and a reused worker
    (``get_spark`` turns reuse on at ≤ 8 local threads) keeps it
    across tasks — 24k md5 calls per executor, not per task.
    """
    global _STUB_W_CACHE
    if _STUB_W_CACHE is None:
        w = np.empty((N_FEATURES, len(COARSE_TYPES)), dtype=np.float64)
        for f in range(N_FEATURES):
            for c in range(len(COARSE_TYPES)):
                w[f, c] = md5_bucket(f"w:{f}:{c}", 2001) - 1000
        _STUB_W_CACHE = w
    return _STUB_W_CACHE


def _featurize_counts(texts: pd.Series) -> np.ndarray:
    """Raw hashing-trick character-trigram bag counts (integer-valued).

    Position j contributes md5_bucket(lower(text)[j:j+3]); texts
    shorter than 3 chars contribute their whole (possibly empty) self
    once, so no row is featureless.
    """
    out = np.zeros((len(texts), N_FEATURES), dtype=np.float64)
    for i, t in enumerate(texts.fillna("").str.lower()):
        for j in range(max(len(t) - 2, 1)):
            out[i, md5_bucket(t[j : j + 3], N_FEATURES)] += 1.0
    return out


def stub_types(texts: pd.Series) -> list[list[str]]:
    """The stub model: each text → its predicted coarse types.  Integer
    counts × integer weights make sigmoid(logit) > 0.5 ⟺ dot > 0
    float-EXACT, so predictions are engine-portable and batch-invariant;
    rows are featurized 4096 at a time to bound the dense matrix."""
    w = _load_stub_weights()
    labels = np.array(COARSE_TYPES, dtype=object)
    out: list[list[str]] = []
    for i in range(0, len(texts), 4096):
        logits = _featurize_counts(texts.iloc[i : i + 4096]) @ w
        probs = 1.0 / (1.0 + np.exp(-logits / 1000.0))
        out.extend(list(labels[m]) for m in probs > THRESHOLD)
    return out


@live_pandas_udf(ArrayType(StringType()))
def stub_type_scorer_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """mention+context string → predicted coarse-type set (array).

    Deterministic hash-feature linear "model" (``stub_types``); weights
    built once per worker and reused across Arrow batches.
    """
    for texts in batches:
        yield pd.Series(stub_types(texts))

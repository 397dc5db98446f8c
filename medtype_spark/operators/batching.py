"""P4 token-window assembly + W5 length-sorted batching.

The reference's serving throughput trick is two-stage:

1. each mention becomes ``[CLS] + prev[-k/2:] + [MEN_START] + mention +
   [MEN_END] + next[:k/2] + [SEP]`` token ids with ``men_pos =
   len(prev)+1`` (.../server/__init__.py:489-498), truncated per
   dataloader.py:38-44 when over ``max_len``;
2. windows are sorted by descending length and chunked into batches of
   ``batch_size`` padded to the *batch* max (dataloader.py:59-67
   ``collate_fn``) — similar-length neighbours mean near-zero padding
   waste on the GPU.

Spark restatement: assembly is one Arrow-batched pandas UDF (the
tokenizer is a deterministic stub — crc32 ids over the same BPE-ish
regex as textstats — standing in for WordPiece, with the identical
window/truncation arithmetic).  Batching is ``sortWithinPartitions``
(a partition-local sort — NO global sort; padding efficiency only
needs neighbours to have similar lengths) followed by a mapInPandas
that chunks and pads.  One output row per batch keeps the matrix
shape the model UDF wants.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BPE_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
VOCAB = 30000
CLS, SEP, MEN_START, MEN_END = 101, 102, 1, 2
CONTEXT_LEN = 120  # server/helper.py:71
MAX_LEN = 128


def _tok_ids(s: str) -> list[int]:
    """Deterministic stub WordPiece: md5 bucket per regex token
    (md5, not crc32, so the DuckDB oracle reproduces ids exactly)."""
    from medtype_spark.functions.scoring import md5_bucket

    return [md5_bucket(t, VOCAB) + 1000 for t in BPE_RE.findall(s)]


WINDOW_SCHEMA = T.StructType([
    T.StructField("toks", T.ArrayType(T.IntegerType())),
    T.StructField("men_pos", T.IntegerType()),
    T.StructField("tok_len", T.IntegerType()),
])


def assemble_window(text: str, start: int, end: int) -> tuple[list[int], int, int] | None:
    """One window of at most ``MAX_LEN`` tokens, reference arithmetic
    (__init__.py:489-498 + dataloader.py:38-46 truncation; None when
    untruncatable)."""
    half = CONTEXT_LEN // 2
    mention = _tok_ids(text[start:end])
    prev = _tok_ids(text[:start])[-half:]
    nxt = _tok_ids(text[end:])[:half]
    if len(prev) + len(mention) + len(nxt) > MAX_LEN - 4:
        left_len = (MAX_LEN - len(mention) - 4) // 2
        if left_len < 0:
            return None
        prev = prev[-left_len:] if left_len else []
        nxt = nxt[:left_len]
    toks = [CLS] + prev + [MEN_START] + mention + [MEN_END] + nxt + [SEP]
    if len(toks) > MAX_LEN:
        return None
    return toks, len(prev) + 1, len(toks)


def assemble_token_windows(mentions: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``window`` struct(toks, men_pos, tok_len) for each
    (start_offset, end_offset) span of ``text_col``; rows whose window
    can't fit MAX_LEN get a null (reference returns None)."""

    @F.pandas_udf(WINDOW_SCHEMA)
    def _assemble(texts: pd.Series, starts: pd.Series, ends: pd.Series) -> pd.DataFrame:
        rows = [
            assemble_window(t or "", int(s), int(e)) or (None, None, None)
            for t, s, e in zip(texts, starts, ends)
        ]
        return pd.DataFrame(rows, columns=["toks", "men_pos", "tok_len"])

    return mentions.withColumn(
        "window", _assemble(F.col(text_col), F.col("start_offset"), F.col("end_offset"))
    )


BATCH_SCHEMA = T.StructType([
    T.StructField("keys", T.ArrayType(T.StringType())),
    T.StructField("tok_pad", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("tok_mask", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("men_pos", T.ArrayType(T.IntegerType())),
    T.StructField("tok_len", T.ArrayType(T.IntegerType())),
])


def length_sorted_batches(windows: DataFrame, batch_size: int = 32) -> DataFrame:
    """collate_fn (dataloader.py:59-67) over (mention_key, window):
    descending-length sort, chunk, pad to the batch max.  The sort is
    partition-local (sortWithinPartitions — no global
    shuffle-to-one-task); padding waste only needs neighbours of
    similar length, not a total order."""
    flat = windows.select(
        F.col("mention_key").cast("string").alias("_key"),
        F.col("window")["toks"].alias("_toks"),
        F.col("window")["men_pos"].alias("_men_pos"),
        F.col("window")["tok_len"].alias("_tok_len"),
    ).where(F.col("_toks").isNotNull())
    flat = flat.sortWithinPartitions(F.desc("_tok_len"))

    def emit(chunk: pd.DataFrame):
        width = int(chunk["_tok_len"].max())
        pad, mask = [], []
        for toks in chunk["_toks"]:
            t = list(toks)
            pad.append(t + [0] * (width - len(t)))
            mask.append([1.0] * len(t) + [0.0] * (width - len(t)))
        return (
            list(chunk["_key"]), pad, mask,
            [int(x) for x in chunk["_men_pos"]],
            [int(x) for x in chunk["_tok_len"]],
        )

    def make_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive pre-sorted desc by tok_len (sortWithinPartitions),
        # so chunking streams with a < batch_size carry buffer — worker
        # memory stays O(arrow batch), never O(partition)
        carry: pd.DataFrame | None = None
        cols = ["keys", "tok_pad", "tok_mask", "men_pos", "tok_len"]
        for pdf in pdfs:
            part = pd.concat([carry, pdf], ignore_index=True) if carry is not None else pdf
            n_full = (len(part) // batch_size) * batch_size
            out = [emit(part.iloc[i:i + batch_size]) for i in range(0, n_full, batch_size)]
            carry = part.iloc[n_full:] if n_full < len(part) else None
            if out:
                yield pd.DataFrame(out, columns=cols)
        if carry is not None and len(carry):
            yield pd.DataFrame([emit(carry)], columns=cols)

    return flat.mapInPandas(make_batches, schema=BATCH_SCHEMA)


def _bag_features(pad, mask, n_feat: int) -> np.ndarray:
    """Mask-aware token-id bag counts for one padded batch: padded
    cells carry mask 0.0 so they contribute nothing — the property
    that makes batched and per-row scoring agree exactly."""
    m = np.asarray([list(r) for r in pad], dtype=np.int64)
    msk = np.asarray([list(r) for r in mask], dtype=np.float64)
    feats = np.zeros((m.shape[0], n_feat))
    rows = np.repeat(np.arange(m.shape[0]), m.shape[1])
    np.add.at(feats, (rows, (m % n_feat).ravel()), msk.ravel())
    return feats


def mention_span_bag(toks: list[int], men_pos: int, n_feat: int) -> np.ndarray:
    """Bag counts of the MENTION tokens only: indices strictly between
    MEN_START (at ``men_pos``) and the following MEN_END marker — the
    small-model analogue of the reference's mention-position pooling
    (medtype-trainer/models.py pools token states at men_pos).  Control
    ids are < 1000 and real ids ≥ 1000, so MEN_END is unambiguous."""
    out = np.zeros(n_feat)
    for t in toks[men_pos + 1:]:
        if t == MEN_END:
            break
        out[t % n_feat] += 1.0
    return out


def _two_bag_features(pad, mask, men_pos_col, n_feat: int) -> np.ndarray:
    """[window bag ‖ mention-span bag] — what the learned checkpoint
    consumes (input dim 2 × n_feat)."""
    window = _bag_features(pad, mask, n_feat)
    mention = np.stack([
        mention_span_bag(list(toks), int(mp), n_feat)
        for toks, mp in zip(pad, men_pos_col)
    ])
    return np.concatenate([window, mention], axis=1)


def score_batches(batches: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Batched scoring over padded token matrices into ``probs`` — the
    slot where the transformer forward pass goes (__init__.py:506-522).

    ``checkpoint=False``: the deterministic md5 stub (integer weights,
    oracle-portable).  ``checkpoint=True``: load the REAL learned
    weights via functions.scoring.load_checkpoint (S12) and run the
    2-layer relu forward pass — same batch contract, same mask
    semantics, one materialization per worker process.
    """
    from medtype_spark.functions.scoring import _load_stub_weights, load_checkpoint

    out_schema = T.StructType(batches.schema.fields + [
        T.StructField("probs", T.ArrayType(T.ArrayType(T.DoubleType())))
    ])

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if checkpoint:
            model = load_checkpoint()
            w1, b1, w2, b2 = model["w1"], model["b1"], model["w2"], model["b2"]
            n_feat = w1.shape[0] // 2  # [window bag ‖ mention bag]

            def featurize(pad, mask, men_pos):
                return _two_bag_features(pad, mask, men_pos, n_feat)

            def forward(feats):
                h = np.maximum(feats @ w1 + b1, 0.0)
                return 1.0 / (1.0 + np.exp(-(h @ w2 + b2)))
        else:
            w = _load_stub_weights()  # checkpoint-load slot: once per worker
            n_feat = w.shape[0]

            def featurize(pad, mask, men_pos):
                return _bag_features(pad, mask, n_feat)

            def forward(feats):
                # integer counts × integer weights: the logit dot is
                # float-exact, so prob > 0.5 ⟺ dot > 0 is portable
                return 1.0 / (1.0 + np.exp(-(feats @ w) / 1000.0))

        for pdf in pdfs:
            probs_col = [
                forward(featurize(pad, mask, men_pos)).tolist()
                for pad, mask, men_pos in zip(
                    pdf["tok_pad"], pdf["tok_mask"], pdf["men_pos"]
                )
            ]
            pdf = pdf.copy()
            pdf["probs"] = probs_col
            yield pdf

    return batches.mapInPandas(run, schema=out_schema)


def batched_type_predictions(mentions: DataFrame, pages: DataFrame) -> DataFrame:
    """The full serving scorer path, P4 → W5 → S12 → P8/P9: join
    mention spans back to their page's ``extracted_text``, assemble
    token windows, length-sorted padded batches of 32, batched forward
    pass with the loaded checkpoint, then explode back to one
    (mention_key, pred_type) row per mention, keeping the types scored
    above 0.5 (server/helper.py:73).  Output is partition-invariant
    (per-mention), ready to join onto the mention table."""
    from medtype_spark.functions.scoring import COARSE_TYPES

    spans = mentions.select("mention_key", "url", "start_offset", "end_offset").join(
        pages.select("url", "extracted_text"), "url"
    )
    win = assemble_token_windows(spans, text_col="extracted_text")
    batches = length_sorted_batches(win, batch_size=32)
    scored = score_batches(batches, checkpoint=True)
    labels = F.array(*[F.lit(t) for t in COARSE_TYPES])
    per = scored.select(F.explode(F.arrays_zip("keys", "probs")).alias("z"))
    return per.select(
        F.col("z.keys").alias("mention_key"),
        F.filter(
            F.zip_with(
                labels, F.col("z.probs"),
                lambda lab, p: F.when(p > 0.5, lab),
            ),
            lambda x: x.isNotNull(),
        ).alias("pred_type"),
    )

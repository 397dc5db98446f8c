"""P4 token-window assembly + W5 length-sorted batching."""

import pytest
from pyspark.sql import functions as F

from medtype_spark.operators.batching import (
    CLS,
    CONTEXT_LEN,
    MAX_LEN,
    MEN_END,
    MEN_START,
    SEP,
    assemble_token_windows,
    assemble_window,
    length_sorted_batches,
    score_batches,
    _tok_ids,
)


def _padding_waste(batches):
    """Fraction of the padded cells of ``batches`` that are padding."""
    return batches.select(
        F.aggregate("tok_len", F.lit(0), lambda a, x: a + x).alias("_real"),
        (F.size("tok_pad") * F.size(F.element_at("tok_pad", 1))).alias("_cells"),
    ).agg((1 - F.sum("_real") / F.sum("_cells")).alias("waste")).collect()[0]["waste"]


def test_assemble_window_reference_arithmetic():
    text = "alpha beta gamma MENTION delta epsilon"
    start, end = text.index("MENTION"), text.index("MENTION") + len("MENTION")
    toks, men_pos, tok_len = assemble_window(text, start, end)
    prev = _tok_ids(text[:start])
    mention = _tok_ids(text[start:end])
    nxt = _tok_ids(text[end:])
    assert toks == [CLS] + prev + [MEN_START] + mention + [MEN_END] + nxt + [SEP]
    assert men_pos == len(prev) + 1          # __init__.py:498
    assert tok_len == len(toks)
    assert toks[men_pos] == MEN_START


def test_assemble_window_truncation():
    """dataloader.py:38-44: oversized windows truncate symmetrically."""
    def window(mention):
        text = " ".join(f"w{i}" for i in range(200)) + f" {mention} " + " ".join(
            f"v{i}" for i in range(200)
        )
        start = text.index(mention)
        return assemble_window(text, start, start + len(mention))

    # CONTEXT_LEN=120 alone caps prev at 60 — no truncation path
    toks, men_pos, tok_len = window("MENTION")
    assert CONTEXT_LEN // 2 + 1 == men_pos == 61
    assert tok_len == 60 + 1 + 60 + 4
    # a 10-token mention overflows max_len → dataloader.py:38-44 kicks in
    toks, men_pos, tok_len = window(" ".join(["MENTION"] * 10))
    assert tok_len <= MAX_LEN
    left_len = (MAX_LEN - 10 - 4) // 2
    assert men_pos == left_len + 1


def test_batches_complete_and_sorted(spark):
    rows = [(f"m{i:03d}", "tok " * (5 + i % 40) + "X", 0, 3) for i in range(100)]
    df = spark.createDataFrame(
        rows, "mention_key:string, text:string, start_offset:long, end_offset:long"
    ).repartition(4)
    win = assemble_token_windows(df)
    batches = length_sorted_batches(win, batch_size=8)
    got = batches.collect()
    keys = [k for r in got for k in r["keys"]]
    assert sorted(keys) == [f"m{i:03d}" for i in range(100)]  # nothing lost
    for r in got:
        # within a batch: descending lengths, padded to batch max
        lens = r["tok_len"]
        assert lens == sorted(lens, reverse=True)
        width = len(r["tok_pad"][0])
        assert width == max(lens)
        assert all(len(row) == width for row in r["tok_pad"])
        # mask matches real length
        for m, n in zip(r["tok_mask"], lens):
            assert sum(m) == n


def test_sorted_batching_cuts_padding(spark):
    """The W5 point: sorted batches waste far less padding than the
    arrival order would."""
    import random

    rng = random.Random(7)
    lengths = [rng.choice([5, 10, 80]) for _ in range(192)]
    rows = [(f"m{i}", "tok " * lengths[i] + "X", 0, 3) for i in range(192)]
    df = spark.createDataFrame(
        rows, "mention_key:string, text:string, start_offset:long, end_offset:long"
    ).coalesce(1)
    win = assemble_token_windows(df)
    sorted_waste = _padding_waste(length_sorted_batches(win, batch_size=16))
    # random arrival order mixes 5/10/80-token rows in every batch:
    # waste would be ~(1 - mean/max) ≈ 0.6; sorted batching only pays
    # at the few group-boundary batches
    assert sorted_waste < 0.15


def test_batched_scoring_padding_invariant(spark):
    """Padding must not change a mention's score: the same mention in a
    wide batch and alone scores identically."""
    rows = [("a", "alpha beta gamma X", 0, 5),
            ("b", "tok " * 60 + "X", 0, 3)]
    df = spark.createDataFrame(
        rows, "mention_key:string, text:string, start_offset:long, end_offset:long"
    )
    win = assemble_token_windows(df)
    # together: 'a' is padded up to 'b's width
    both = score_batches(length_sorted_batches(win.coalesce(1), batch_size=2))
    # alone: no padding
    alone = score_batches(
        length_sorted_batches(win.where(F.col("mention_key") == "a"), batch_size=2)
    )
    def probs_of(df_, key):
        for r in df_.collect():
            for k, p in zip(r["keys"], r["probs"]):
                if k == key:
                    return p
        raise KeyError(key)
    pa = probs_of(both, "a")
    pb = probs_of(alone, "a")
    assert pa == pytest.approx(pb, abs=1e-12)

"""Train the REAL (small) semantic-type model for the batched scorer.

The reference fine-tunes BERT to predict coarse semantic types for a
mention in context (medtype-trainer/models.py:28-45,73-105); at
sandbox scale the same CONTRACT is filled by a 2-layer relu net over
the serving featurization: mask-aware token-id bag counts of the
assembled window (functions.scoring + operators.batching).  This
script trains it with plain numpy SGD on windows assembled by the SAME
assemble_window code the serving path runs (P4), over the alias
lexicon embedded in deterministic filler contexts, and writes the
checkpoint that functions.scoring.load_checkpoint (S12) serves.

The point is not model quality research — it is to prove the
P4 (window assembly) → W5 (length-sorted batching) → S12 (checkpoint
load) → P8/P9 (sigmoid threshold → type decode) seam end-to-end with
weights that were actually LEARNED, not hashed.

Usage: python tools/train_type_model.py [n_entities] [out.npz]
"""

from __future__ import annotations

import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from medtype_spark.datagen.pages import FILLER, build_lexicon  # noqa: E402
from medtype_spark.functions.scoring import COARSE_TYPES  # noqa: E402
from medtype_spark.operators.batching import (  # noqa: E402
    assemble_window,
    mention_span_bag,
)

N_FEAT = 1024
HIDDEN = 64
SEED = 1234  # the trainer's seed (medtype-trainer/medtype.py:430)


def window_features(text: str, start: int, end: int) -> np.ndarray:
    """Serving featurization: [window bag ‖ mention-span bag] — the
    exact counts score_batches builds from the padded batch (the
    mention bag is the small-model analogue of the reference's
    mention-position pooling)."""
    toks, men_pos, _n = assemble_window(text, start, end)
    window = np.zeros(N_FEAT)
    for t in toks:
        window[t % N_FEAT] += 1.0
    return np.concatenate([window, mention_span_bag(toks, men_pos, N_FEAT)])


def build_dataset(n_entities: int, samples_per_alias: int = 6):
    """Windows match the serving distribution: the mention embedded in
    filler words, and — crucially — sometimes with OTHER aliases in
    the context window, since real pages put several mentions within
    ±60 tokens of each other; a model trained on clean contexts
    mispredicts as soon as a neighbour's distinctive tokens appear."""
    lex = build_lexicon(n_entities)
    aliases = lex["alias"].tolist()
    rng = np.random.RandomState(SEED)
    t2i = {t: i for i, t in enumerate(COARSE_TYPES)}

    def context() -> str:
        words = [
            FILLER[j] for j in rng.randint(0, len(FILLER), rng.randint(0, 6))
        ]
        if rng.random() < 0.5:  # neighbour mention in context
            pos = rng.randint(0, len(words) + 1)
            words.insert(pos, aliases[rng.randint(0, len(aliases))])
        return " ".join(words)

    xs, ys = [], []
    for _, row in lex.iterrows():
        for _ in range(samples_per_alias):
            left, right = context(), context()
            prefix = left + (" " if left else "")
            text = prefix + row["alias"] + ((" " + right) if right else "")
            start = len(prefix)
            end = start + len(row["alias"])
            xs.append(window_features(text, start, end))
            y = np.zeros(len(COARSE_TYPES))
            y[t2i[row["type"]]] = 1.0
            ys.append(y)
    return np.array(xs), np.array(ys)


def train(x: np.ndarray, y: np.ndarray, epochs: int = 300, lr: float = 3e-3):
    """Minibatch Adam on sigmoid BCE (plain numpy)."""
    rng = np.random.RandomState(SEED)
    params = {
        "w1": rng.normal(0, 0.05, (2 * N_FEAT, HIDDEN)),
        "b1": np.zeros(HIDDEN),
        "w2": rng.normal(0, 0.05, (HIDDEN, len(COARSE_TYPES))),
        "b2": np.zeros(len(COARSE_TYPES)),
    }
    m = {k: np.zeros_like(v) for k, v in params.items()}
    v = {k: np.zeros_like(vv) for k, vv in params.items()}
    b1m, b2m, eps = 0.9, 0.999, 1e-8
    t = 0
    n = len(x)
    for ep in range(epochs):
        perm = rng.permutation(n)
        for i in range(0, n, 256):
            idx = perm[i : i + 256]
            xb, yb = x[idx], y[idx]
            h_pre = xb @ params["w1"] + params["b1"]
            h = np.maximum(h_pre, 0.0)
            p = 1.0 / (1.0 + np.exp(-(h @ params["w2"] + params["b2"])))
            d_logit = (p - yb) / len(xb)  # BCE gradient
            d_h = (d_logit @ params["w2"].T) * (h_pre > 0)
            grads = {
                "w2": h.T @ d_logit, "b2": d_logit.sum(0),
                "w1": xb.T @ d_h, "b1": d_h.sum(0),
            }
            t += 1
            for k in params:
                m[k] = b1m * m[k] + (1 - b1m) * grads[k]
                v[k] = b2m * v[k] + (1 - b2m) * grads[k] ** 2
                mhat = m[k] / (1 - b1m ** t)
                vhat = v[k] / (1 - b2m ** t)
                params[k] -= lr * mhat / (np.sqrt(vhat) + eps)
        if (ep + 1) % 50 == 0:
            h = np.maximum(x @ params["w1"] + params["b1"], 0.0)
            p = 1.0 / (1.0 + np.exp(-(h @ params["w2"] + params["b2"])))
            exact = ((p > 0.5) == (y > 0.5)).all(axis=1).mean()
            print(f"epoch {ep + 1}: exact-set accuracy {exact:.4f}")
    return params["w1"], params["b1"], params["w2"], params["b2"]


def main():
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 240
    out = sys.argv[2] if len(sys.argv) > 2 else (
        os.path.join(ROOT, "medtype_spark", "config", "type_model.npz")
    )
    x, y = build_dataset(n_entities)
    print(f"training on {len(x)} windows ({n_entities} entities)")
    w1, b1, w2, b2 = train(x, y)
    np.savez_compressed(
        out,
        w1=w1.astype(np.float32), b1=b1.astype(np.float32),
        w2=w2.astype(np.float32), b2=b2.astype(np.float32),
    )
    # final report: per-alias single-window accuracy (no context)
    lex = build_lexicon(n_entities)
    feats = np.array([
        window_features(a, 0, len(a)) for a in lex["alias"]
    ])
    h = np.maximum(feats @ w1.astype(np.float64) + b1, 0.0)
    p = 1.0 / (1.0 + np.exp(-(h @ w2.astype(np.float64) + b2)))
    t2i = {t: i for i, t in enumerate(COARSE_TYPES)}
    want = np.array([t2i[t] for t in lex["type"]])
    acc = (p.argmax(1) == want).mean()
    exact = ((p > 0.5) == np.eye(len(COARSE_TYPES))[want].astype(bool)).all(1).mean()
    print(f"saved {out}; alias top-1 accuracy {acc:.4f}, exact-set {exact:.4f}")


if __name__ == "__main__":
    main()

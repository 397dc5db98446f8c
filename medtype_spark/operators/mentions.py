"""Dictionary-based mention detection + candidate generation.

The Spark-native analogue of the reference's pluggable entity linkers
(medtype-as-service/server/medtype_serving/server/entity_linkers.py:5-21
contract: text → {(start,end): [[eid,score],...]}); closest to the
cTakes dictionary-lookup linker (entity_linkers.py:74-107) but executed
as an Arrow-batched ``mapInPandas`` flatMap with the alias dictionary
broadcast once per executor — no external service, no per-row Python
over Spark rows.

Candidate lists are emitted best-first with scores rounded to 3 dp
(entity_linkers.py:44), and de-duplicated per (span, eid) like the
cTakes set-dedup (entity_linkers.py:88-98).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

def build_alias_pattern(aliases) -> re.Pattern:
    """Compile an alias lexicon into a trie-structured regex.

    A flat longest-first alternation (``a1|a2|...``) costs the regex
    engine O(|aliases|) alternative attempts per text position and
    breaks down entirely around 10^5 alternatives — unusable against a
    UMLS-scale lexicon (57k aliases, Readme.md:83-95).  Compiling the
    lexicon as a character trie (the Aho-Corasick automaton shape,
    expressed as a regex so matching stays in the C engine) bounds
    per-position work by the trie depth, independent of alias count.

    Longest-match semantics are preserved: at every trie node the
    continuation group is a GREEDY optional (``(?:...)?``), so the
    engine tries the longer alias first and backtracks to the shorter
    terminal only if the trailing boundary rejects — byte-for-byte the
    behavior of the longest-first alternation it replaces
    (differential-tested in tests/test_mention_scan.py).
    """
    trie: dict = {}
    for w in aliases:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = True  # terminal marker

    def emit(node: dict) -> str:
        children = [(ch, sub) for ch, sub in node.items() if ch != ""]
        terminal = "" in node
        if not children:
            return ""
        parts = [re.escape(ch) + emit(sub) for ch, sub in sorted(children)]
        body = parts[0] if len(parts) == 1 else "(?:" + "|".join(parts) + ")"
        return f"(?:{body})?" if terminal else body

    parts = [re.escape(ch) + emit(sub) for ch, sub in sorted(trie.items()) if ch != ""]
    core = "|".join(parts)
    return re.compile(rf"(?<![0-9A-Za-z])({core})(?![0-9A-Za-z])")


FUSED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("start_offset", T.LongType()),
    T.StructField("end_offset", T.LongType()),
    T.StructField("mention", T.StringType()),
    T.StructField("candidates", T.ArrayType(T.StructType([
        T.StructField("eid", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]))),
    T.StructField("mention_key", T.StringType()),
    T.StructField("norm_form", T.StringType()),
    T.StructField("block_key", T.StringType()),
    T.StructField("pred_type", T.ArrayType(T.StringType())),
])

_NORM_RE = re.compile(r"[^a-z0-9 ]")
_WS_RE = re.compile(r"\s+")

# THE extraction regex — single definition shared by the fused scan and
# pipeline.extract_text_udf, so the batched scorer's context text is the
# text the scan's offsets index (re.S: a <p>…</p> spanning newlines
# must match on both).
EXTRACT_RE = re.compile(r"<p>(.*?)</p>", re.S)


def normalize_form_py(s: str) -> str:
    """THE surface-form normalizer: lower, strip, drop every character
    outside [a-z0-9 ], collapse whitespace, strip again.  The fused scan
    derives ``norm_form``/``block_key`` with it for every type scorer,
    and the dict scorer keys its alias → types map by it."""
    out = _NORM_RE.sub("", s.lower().strip())
    return _WS_RE.sub(" ", out).strip()


def iter_set_matches(text: str, alias_map, max_n: int):
    """Token-aligned gazetteer scan: yield (start, end, surface) for
    non-overlapping, longest-match-first, left-to-right alias hits —
    ``finditer`` semantics of the trie regex, restricted to matches
    aligned on single-space token boundaries.

    Why it exists: the trie regex costs O(|lexicon|) automaton BUILD
    per fresh worker process (~8 s at 10^5 aliases — measured), which
    the sandbox pays per task and a 1000-executor cluster pays per
    executor churn.  A broadcast hash-set costs O(1) setup beyond
    deserialization and O(tokens × max_alias_tokens) per document, so
    it is the shape that survives a 10^6+-alias lexicon.  Contract:
    text is space-delimited (clean_text maps \\n | ' to spaces), and
    aliases must start/end on token boundaries — mid-token matches
    after internal punctuation (e.g. "foo-corp x" matching alias
    "corp x") are NOT found; the trie matcher remains the general
    path.  Parity on boundary-aligned corpora is differential-tested
    in tests/test_mention_scan.py.
    """
    toks = text.split(" ")
    nt = len(toks)
    offs = []
    pos = 0
    for t in toks:
        offs.append(pos)
        pos += len(t) + 1
    i = 0
    while i < nt:
        if toks[i]:
            for n in range(min(max_n, nt - i), 0, -1):
                cand = " ".join(toks[i:i + n])
                if cand in alias_map:
                    yield offs[i], offs[i + n - 1] + len(toks[i + n - 1]), cand
                    i += n - 1
                    break
        i += 1


def fused_mention_scan(
    pages: DataFrame,
    lexicon: pd.DataFrame,
    alias2types: dict[str, list[str]] | None,
    url_col: str = "url",
    html_col: str = "html",
    matcher: str = "trie",
) -> DataFrame:
    """One-hop scan: html → extracted text → mentions + candidates +
    normalized/blocking keys + predicted types, in a SINGLE
    mapInPandas.

    Rationale: extraction, span detection and scoring as separate
    Python runners (extract UDF → detect mapInPandas → scorer UDF)
    cost an Arrow socket round-trip per batch per hop.  One runner cuts
    worker count and serialization 3× — the chained version spent >90%
    CPU in kernel/syscall time at local[32], and at cluster scale the
    saved serialization is real money.  ``alias2types=None`` switches
    to the deterministic stub transformer scorer
    (functions/scoring.py); a scorer that types mentions afterwards
    passes ``{}`` and replaces ``pred_type``.
    """
    spark = pages.sparkSession
    lex_b = spark.sparkContext.broadcast(
        (lexicon[["alias", "eid", "score"]].values.tolist(), alias2types)
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        rows, a2t = lex_b.value
        alias_map: dict[str, list[tuple[str, float]]] = {}
        for alias, eid, score in rows:
            alias_map.setdefault(alias, []).append((eid, float(score)))
        for cands in alias_map.values():
            cands.sort(key=lambda c: (-c[1], c[0]))
        if matcher == "set":
            max_n = max((len(a.split(" ")) for a in alias_map), default=1)

            def find_spans(text):
                return iter_set_matches(text, alias_map, max_n)
        else:
            pattern = build_alias_pattern(alias_map)

            def find_spans(text):
                for m in pattern.finditer(text):
                    yield m.start(1), m.end(1), m.group(1)
        extract_re = EXTRACT_RE
        norm_cache: dict[str, tuple[str, str, list[str]]] = {}

        if a2t is None:
            from medtype_spark.functions.scoring import (
                COARSE_TYPES,
                THRESHOLD,
                _featurize_counts,
                _load_stub_weights,
            )

            w = _load_stub_weights()
            labels = np.array(COARSE_TYPES, dtype=object)

            def types_of(norms: list[str]) -> list[list[str]]:
                # integer counts × integer weights: exact, portable
                logits = _featurize_counts(pd.Series(norms)) @ w
                probs = 1.0 / (1.0 + np.exp(-logits / 1000.0))
                return [list(labels[m]) for m in probs > THRESHOLD]
        else:

            def types_of(norms: list[str]) -> list[list[str]]:
                return [a2t.get(n, []) for n in norms]

        for pdf in batches:
            out = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if html is None:
                    continue
                decoded = bytes(html).decode("utf-8", "replace")
                m0 = extract_re.search(decoded)
                text = m0.group(1) if m0 else ""
                for start, end, surface in find_spans(text):
                    cached = norm_cache.get(surface)
                    if cached is None:
                        norm = normalize_form_py(surface)
                        head = norm.split(" ", 1)[0] if norm else ""
                        ptypes = types_of([norm])[0]
                        cached = (norm, head, ptypes)
                        norm_cache[surface] = cached
                    norm, head, ptypes = cached
                    cands = [
                        {"eid": e, "score": round(s, 3)}
                        for e, s in alias_map[surface]
                    ]
                    out.append((
                        url, start, end, surface, cands,
                        f"{url}#{start}", norm, head, ptypes,
                    ))
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "start_offset", "end_offset", "mention",
                    "candidates", "mention_key", "norm_form", "block_key",
                    "pred_type",
                ],
            )

    return pages.select(url_col, html_col).mapInPandas(scan, schema=FUSED_SCHEMA)

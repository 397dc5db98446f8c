"""Dictionary-based mention detection + candidate generation.

The Spark-native analogue of the reference's pluggable entity linkers
(medtype-as-service/server/medtype_serving/server/entity_linkers.py:5-21
contract: text → {(start,end): [[eid,score],...]}); closest to the
cTakes dictionary-lookup linker (entity_linkers.py:74-107) but executed
as an Arrow-batched ``mapInPandas`` flatMap — no external service, no
per-row Python over Spark rows.

Every matched span is a lexicon alias, so its candidates, normalized
form, blocking key and (dict or stub) predicted types depend on the
alias alone.  ``alias_table`` computes them once per call on the
driver and the table is broadcast; the Python scan only extracts text,
finds spans and looks each one up.

Candidate lists are emitted best-first with scores rounded to 3 dp
(entity_linkers.py:44), one entry per lexicon (alias, eid) row.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from medtype_spark.functions.scoring import stub_types

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
    # an empty lexicon must match nothing, not the empty string
    core = "|".join(parts) or "(?!)"
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


def alias_table(
    lexicon: pd.DataFrame, alias2types: dict[str, list[str]] | None
) -> dict[str, tuple[str, str, list[str], list[dict]]]:
    """alias → (norm_form, block_key, pred_type, candidates), every
    mention field that depends on the alias alone.

    Candidates come best-first (ties broken by eid) with scores rounded
    to 3 dp; ``block_key`` is the form's head token; ``pred_type`` is
    ``alias2types[norm_form]`` (default ``[]``), or with
    ``alias2types=None`` the stub model, run once per distinct form.
    """
    cands: dict[str, list[tuple[str, float]]] = {}
    for alias, eid, score in zip(lexicon["alias"], lexicon["eid"], lexicon["score"]):
        cands.setdefault(alias, []).append((eid, float(score)))
    norms = {alias: normalize_form_py(alias) for alias in cands}
    forms = sorted(set(norms.values()))
    if alias2types is None:
        types = dict(zip(forms, stub_types(pd.Series(forms, dtype=object))))
    else:
        types = {form: alias2types.get(form, []) for form in forms}
    return {
        alias: (
            norms[alias], norms[alias].split(" ", 1)[0], types[norms[alias]],
            [{"eid": e, "score": round(s, 3)} for e, s in sorted(cs, key=lambda c: (-c[1], c[0]))],
        )
        for alias, cs in cands.items()
    }


def fused_mention_scan(
    pages: DataFrame,
    lexicon: pd.DataFrame,
    alias2types: dict[str, list[str]] | None,
    matcher: str = "trie",
) -> DataFrame:
    """One-hop scan: html → extracted text → mention spans, each with
    its alias's ``alias_table`` entry, in a SINGLE mapInPandas (chained
    extract/detect hops would cost an Arrow round-trip per batch each).

    The table is built once on the driver and broadcast; each task
    builds only its matcher (``build_alias_pattern`` over the aliases,
    or ``iter_set_matches`` for ``matcher="set"``).  A scorer that
    types mentions afterwards passes ``alias2types={}`` and replaces
    ``pred_type``.
    """
    table_b = pages.sparkSession.sparkContext.broadcast(alias_table(lexicon, alias2types))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = table_b.value
        if matcher == "set":
            max_n = max((len(a.split(" ")) for a in table), default=1)

            def find_spans(text):
                return iter_set_matches(text, table, max_n)
        else:
            pattern = build_alias_pattern(table)

            def find_spans(text):
                for m in pattern.finditer(text):
                    yield m.start(1), m.end(1), m.group(1)

        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                decoded = bytes(html).decode("utf-8", "replace")
                m0 = EXTRACT_RE.search(decoded)
                text = m0.group(1) if m0 else ""
                for start, end, surface in find_spans(text):
                    norm, head, ptypes, cands = table[surface]
                    out.append((
                        url, start, end, surface, cands,
                        f"{url}#{start}", norm, head, ptypes,
                    ))
            yield pd.DataFrame(out, columns=FUSED_SCHEMA.fieldNames())

    return pages.select("url", "html").mapInPandas(scan, schema=FUSED_SCHEMA)

"""Deterministic synthetic Common-Crawl-style ``pages`` corpus.

Synthesizes the BASELINE.json ``input_hint`` table
``pages(url, warc_ts, html, text, lang)`` with *planted* entity
mentions and known gold clusters, mirroring the reference's labeled
corpora (WikiMed/PubMedDS are exactly this: text + gold mention spans +
gold entity ids, Readme.md:99-113).

Design goals:
- **Seed-stable and partitioning-invariant**: every random choice is a
  pure function of (seed, page_id) via splitmix64 — identical corpus at
  local[8] and local[32], any partition count.
- **Distributed generation**: built with mapInPandas over
  ``spark.range`` so bench-scale corpora (millions of pages) never
  centralize on the driver.
- **Controlled difficulty**: entities come in families sharing a
  blocking-key head token (multi-entity blocks), aliases per entity
  vary case/punctuation/whitespace (normalize to the same form) plus
  one typo variant (JW ≈ 0.98); distinct entities in a block differ by
  a long dissimilar tail word (JW ≲ 0.9).  One deliberately *hot*
  alias opens ``HOT_FRACTION`` of the pages to exercise salting.
- ``html`` is derived from ``text`` by a reversible wrapping so the
  extraction UDF can be verified byte-identical per url.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medtype_spark.functions.scoring import COARSE_TYPES

# Tail words: long, mutually dissimilar, distinct initials; disjoint
# from the driver testdata vocabulary and from FILLER below.
TAIL_WORDS = [
    "avalanche", "blueberry", "cormorant", "dragonfly", "eucalyptus",
    "flamingo", "grapevine", "hippopotamus", "iguanodon", "jacaranda",
    "kookaburra", "lighthouse", "marmalade", "nightingale", "observatory",
    "porcupine", "quicksilver", "rhinoceros", "sarsaparilla", "tambourine",
    "umbrella", "vermicelli", "wolverine", "xylophone", "yellowtail",
    "zeppelin",
]
FILLER = [
    "lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing",
    "elit", "tempor", "incididunt", "labore", "magna", "aliqua",
    "veniam", "nostrud", "ullamco", "laboris", "aliquip", "commodo",
]
LANGS = ["en", "de", "fr", "es", "zh"]
HOT_FRACTION = 0.15  # share of pages whose first mention is the hot alias

PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

GOLD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("start_offset", T.LongType()),
    T.StructField("end_offset", T.LongType()),
    T.StructField("mention", T.StringType()),
    T.StructField("entity_id", T.StringType()),
])

_GEN_SCHEMA = T.StructType(PAGE_SCHEMA.fields + [
    T.StructField("gold", T.ArrayType(T.StructType([
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
        T.StructField("mention", T.StringType()),
        T.StructField("entity_id", T.StringType()),
    ]))),
])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (SplitMix64), vectorized."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def _rand_u64(seed: int, ids: np.ndarray, stream: int) -> np.ndarray:
    base = np.uint64(seed) * np.uint64(0x100000001B3) + np.uint64(stream)
    return _splitmix64(ids.astype(np.uint64) ^ _splitmix64(np.full(len(ids), base, dtype=np.uint64)))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    """CDF of a Zipf(s) distribution over ranks 0..n-1."""
    w = (np.arange(1, n + 1, dtype=np.float64)) ** (-s)
    return np.cumsum(w) / w.sum()


def _zipf_pick(u64: np.ndarray, cdf: np.ndarray) -> np.ndarray:
    """Map uniform u64 draws onto ranks via the Zipf inverse CDF."""
    u = (u64 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    return np.searchsorted(cdf, u, side="right").clip(0, len(cdf) - 1)


def zipf_families(n_entities: int, n_families: int, s: float) -> np.ndarray:
    """Deterministic Zipf(s)-distributed family id per entity.

    Family 0 collects a heavy head of the entity population, so its
    block's FORM count exceeds any salting threshold — the skew shape
    of a real web corpus (Zipf surface-form vocabulary)."""
    cdf = _zipf_cdf(n_families, s)
    u = _rand_u64(1234, np.arange(n_entities, dtype=np.uint64), 7)
    return _zipf_pick(u, cdf)


def entity_name(eid_num: int, n_families: int,
                family: int | None = None) -> str:
    """Entity display name; the head token is the blocking key.
    ``family`` overrides the default round-robin assignment (used by
    the Zipf-skew corpus, see ``zipf_families``)."""
    if family is None:
        family = eid_num % n_families
    tail = TAIL_WORDS[eid_num % len(TAIL_WORDS)]
    return f"corp{family} {tail}{eid_num}"


def build_lexicon(n_entities: int, n_families: int = 7,
                  family_zipf: float | None = None) -> pd.DataFrame:
    """Alias table: (alias, eid, score, type).

    Aliases: canonical, UPPER, Title-with-punct, spaced, typo.  All but
    the typo normalize (lower+strip-punct+collapse-ws) to the canonical
    form.  Entity type cycles over the 24 coarse types but is constant
    inside an entity.  ``family_zipf``: Zipf(s)-skewed family (block)
    membership instead of round-robin — see ``zipf_families``.
    """
    fams = (zipf_families(n_entities, n_families, family_zipf)
            if family_zipf is not None else None)
    rows = []
    for i in range(n_entities):
        eid = f"E{i:05d}"
        name = entity_name(i, n_families,
                           family=int(fams[i]) if fams is not None else None)
        etype = COARSE_TYPES[i % len(COARSE_TYPES)]
        head, tail = name.split(" ", 1)
        variants = [
            (name, 1.0),
            (name.upper(), 0.95),
            (f"{head.capitalize()}, {tail.title()}", 0.9),
            (f"{head}  {tail}", 0.85),           # double space
            (f"{head} {tail[0]}{tail}", 0.8),     # typo: doubled first tail char
        ]
        for alias, score in variants:
            rows.append((alias, eid, round(score, 3), etype))
    df = pd.DataFrame(rows, columns=["alias", "eid", "score", "type"])
    return df.drop_duplicates(subset=["alias", "eid"]).reset_index(drop=True)


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    n_entities: int = 50,
    seed: int = 42,
    mentions_per_page: int = 3,
    n_families: int = 7,
    partitions: int | None = None,
    gap_words: int = 1,
    mention_zipf: float | None = None,
    family_zipf: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (pages, gold_mentions).

    gold_mentions: (url, start_offset, end_offset, mention, entity_id).

    ``mention_zipf``: when set, each mention's alias is drawn
    Zipf(s)-distributed over the alias vocabulary (heavy head) instead
    of uniformly — the real shape of a web-scale surface-form stream.
    ``family_zipf``: Zipf-skewed blocking-family sizes (see
    ``build_lexicon``); both corpora stay seed-stable and
    partitioning-invariant.
    """
    lex = build_lexicon(n_entities, n_families, family_zipf=family_zipf)
    aliases = lex["alias"].to_numpy()
    alias_eid = lex["eid"].to_numpy()
    hot_alias_idx = 0  # canonical alias of entity 0 is the hot surface form

    n_alias = len(aliases)
    alias_cdf = _zipf_cdf(n_alias, mention_zipf) if mention_zipf is not None else None

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            n = len(ids)
            r_lang = _rand_u64(seed, ids, 1) % len(LANGS)
            r_nmen = (_rand_u64(seed, ids, 2) % mentions_per_page) + 1
            r_hot = (_rand_u64(seed, ids, 3) % 10**6) < int(HOT_FRACTION * 10**6)
            out = []
            for k in range(n):
                pid = int(ids[k])
                url = f"https://example.org/page/{pid:09d}"
                nm = int(r_nmen[k])
                words = []
                gold = []
                pos = 0
                filler_r = _rand_u64(seed, np.arange(pid * 97, pid * 97 + 40), 4)
                fi = 0

                def add_filler(count):
                    nonlocal pos, fi
                    for _ in range(count):
                        w = FILLER[int(filler_r[fi % 40]) % len(FILLER)]
                        fi += 1
                        words.append(w)
                        pos += len(w) + 1

                men_r = _rand_u64(seed, np.arange(pid * 131, pid * 131 + nm), 5)
                gap_r = _rand_u64(seed, np.arange(pid * 53, pid * 53 + nm + 1), 6)
                men_ai = (_zipf_pick(men_r, alias_cdf)
                          if alias_cdf is not None else men_r % n_alias)
                for j in range(nm):
                    add_filler((2 + int(gap_r[j]) % 4) * gap_words)
                    if j == 0 and bool(r_hot[k]):
                        ai = hot_alias_idx
                    else:
                        ai = int(men_ai[j])
                    alias = aliases[ai]
                    start = pos
                    end = pos + len(alias)
                    gold.append((start, end, alias, alias_eid[ai]))
                    words.append(alias)
                    pos = end + 1
                add_filler((2 + int(gap_r[nm]) % 4) * gap_words)
                text = " ".join(words)
                html = f"<html><head><title>p{pid}</title></head><body><p>{text}</p></body></html>".encode()
                ts = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=pid % 31536000)
                out.append((url, ts, html, text, LANGS[int(r_lang[k])], gold))
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang", "gold"]
            )

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_pages, 1, parts)
    full = base.mapInPandas(gen, schema=_GEN_SCHEMA)
    pages = full.select("url", "warc_ts", "html", "text", "lang")
    gold = full.select("url", F.explode("gold").alias("g")).select(
        "url",
        F.col("g.start_offset").alias("start_offset"),
        F.col("g.end_offset").alias("end_offset"),
        F.col("g.mention").alias("mention"),
        F.col("g.entity_id").alias("entity_id"),
    )
    return pages, gold


def entity_types_df(spark: SparkSession, n_entities: int, n_families: int = 7,
                    family_zipf: float | None = None) -> DataFrame:
    lex = build_lexicon(n_entities, n_families, family_zipf=family_zipf)
    et = lex[["eid", "type"]].drop_duplicates()
    pdf = et.groupby("eid")["type"].apply(lambda s: sorted(set(s))).reset_index()
    pdf.columns = ["eid", "types"]
    return spark.createDataFrame(pdf)

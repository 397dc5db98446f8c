"""Byte-exact text normalization primitives.

The north-rule invariant is *byte-identical extracted text per url*, so
these reproduce the reference's normalization semantics exactly:

- ``clean_text``: ascii-fold with ``'?'`` replacement, then map each of
  ``\\n``, ``|``, ``'`` to a single space — **length-preserving in
  characters** so char offsets survive.  Reference:
  medtype-as-service/server/medtype_serving/server/helper.py:264-269 and
  medtype-trainer/helper.py:131-136 (identical bodies).
- ``collapse_char``: the reference's quirky run-collapsing ``replace(s,
  ch)`` char loop (server helper.py:271-288).  Semantics, derived from
  the loop and locked in by differential tests: each maximal run of
  ``ch`` collapses to a single ``ch``, EXCEPT a run starting at index 0
  (dropped entirely) and a length-1 run at the last index (dropped).

All hot-path entry points are vectorized (pandas ``.str`` ops / regex),
never per-row Python over Spark rows.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from medtype_spark.session import live_pandas_udf


# --- pure-Python reference semantics (used by tests as the oracle) -----

def clean_text_py(text: str) -> str:
    """Literal restatement of reference clean_text (helper.py:264-269)."""
    text = str(text.encode("ascii", "replace").decode())
    text = text.replace("\n", " ")
    text = text.replace("|", " ")
    text = text.replace("'", " ")
    return text


def collapse_char_py(s: str, ch: str) -> str:
    """Literal restatement of reference replace(s, ch) (helper.py:271-288)."""
    new_str = []
    l = len(s)
    for i in range(len(s)):
        if s[i] == ch and i != (l - 1) and i != 0 and s[i + 1] != ch and s[i - 1] != ch:
            new_str.append(s[i])
        elif s[i] == ch:
            if (i != (l - 1) and s[i + 1] == ch) and (i != 0 and s[i - 1] != ch):
                new_str.append(s[i])
        else:
            new_str.append(s[i])
    return "".join(new_str)


# --- vectorized pandas implementations (the hot path) ------------------

def clean_text_pandas(s: pd.Series) -> pd.Series:
    """Vectorized clean_text over a string Series (Arrow batch)."""
    out = s.str.encode("ascii", "replace").str.decode("ascii")
    out = out.str.replace("\n", " ", regex=False)
    out = out.str.replace("|", " ", regex=False)
    out = out.str.replace("'", " ", regex=False)
    return out


@live_pandas_udf(StringType())
def clean_text_udf(s: pd.Series) -> pd.Series:
    return clean_text_pandas(s)


@live_pandas_udf(StringType())
def clean_collapse_udf(s: pd.Series) -> pd.Series:
    """clean_text then collapse space runs — the reference's full
    normalization chain (server helper.py:264-288, clean_text followed
    by replace(text, ' '))."""
    return collapse_char_pandas(clean_text_pandas(s), " ")


def collapse_char_pandas(s: pd.Series, ch: str) -> pd.Series:
    """Vectorized collapse_char via three ordered regex passes.

    Order matters: (1) drop a lone ``ch`` at the end (not preceded by
    ``ch``) — must run before collapsing, because a collapsed run at the
    end must still keep its one char; (2) drop a leading run; (3)
    collapse remaining runs to one char.
    """
    c = re.escape(ch)
    # \Z, not $: $ also matches before a trailing \n, which would wrongly
    # drop a lone ch in "...ch\n" (the reference loop only treats the
    # true last index specially).
    out = s.str.replace(rf"(?<!{c}){c}\Z", "", regex=True)
    out = out.str.replace(rf"^{c}+", "", regex=True)
    out = out.str.replace(rf"{c}{c}+", ch, regex=True)
    return out


# --- misc column helpers -----------------------------------------------

_WIKI_PREFIXES = (
    "https://en.wikipedia.org/wiki/",
    "http://en.wikipedia.org/wiki/",
    "en.wikipedia.org/wiki/",
)


def normalise_link_col(col: Column) -> Column:
    """Strip wikipedia URL prefix, spaces→underscores.

    Reference: medtype-trainer/neleval/neleval/utils.py:18-23.
    """
    out = col
    for p in _WIKI_PREFIXES:
        out = F.regexp_replace(out, "^" + re.escape(p), "")
    return F.regexp_replace(out, " ", "_")

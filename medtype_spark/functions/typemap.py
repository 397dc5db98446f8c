"""J11: the UMLS semantic-type remap chain — 127 fine types → 24
coarse groups → class ids.

The reference applies ``type2id[type_remap[x]]`` per label and
set-dedups (medtype-trainer/medtype.py:29-31, 41, 50); the two mapping
tables are config data (config/type_remap.json, config/type2id.json —
the public UMLS Semantic Groups mapping of McCray et al. 2001), shipped
here verbatim under ``medtype_spark/config/``.

Spark-first: both maps are literal ``create_map`` expressions (127+24
entries — bytes, not a dimension join), so the remap is a shuffle-free
whole-stage-codegen ``transform`` over the label array.  The reference
set-dedup has no order; we sort the id array for determinism.
"""

from __future__ import annotations

import json
from functools import lru_cache
from importlib import resources
from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F


def _load_config(name: str) -> dict:
    # importlib.resources: works from a filesystem checkout AND from a
    # spark-submit --py-files zip
    return json.loads(
        resources.files("medtype_spark.config").joinpath(name).read_text()
    )


@lru_cache(maxsize=None)
def load_type_remap() -> dict:
    return _load_config("type_remap.json")


@lru_cache(maxsize=None)
def load_type2id() -> dict:
    return _load_config("type2id.json")


def _map_literal(d: dict, value_type: str) -> Column:
    pairs = chain.from_iterable(
        (F.lit(k), F.lit(v).cast(value_type)) for k, v in sorted(d.items())
    )
    return F.create_map(*pairs)


def remap_type_col(labels: Column) -> Column:
    """array<string> fine labels → sorted distinct array<int> class ids
    (``list(set(type2id[type_remap[x]] for x in labels))``, sorted)."""
    fine2id = {k: load_type2id()[v] for k, v in load_type_remap().items()}
    m = _map_literal(fine2id, "int")
    return F.array_sort(
        F.array_distinct(F.transform(labels, lambda x: m[x]))
    )


def coarse_type_col(labels: Column) -> Column:
    """array<string> fine labels → sorted distinct coarse group names."""
    m = _map_literal(load_type_remap(), "string")
    return F.array_sort(F.array_distinct(F.transform(labels, lambda x: m[x])))

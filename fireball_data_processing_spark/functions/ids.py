"""F8/F10: id hashing and recursive anonymization.

The reference anonymizes by md5-hashing snowflake ids into 18-digit
decimals and recursively walking every dict/list/str value to replace ids
and author names (``scripts/anonymize.py:24-67``). On typed columns the
per-field expressions in :mod:`..functions.text` suffice; for arbitrary
JSON payloads (``automation_result``, raw event dumps) the walk is an
Arrow-batched pandas UDF over the JSON string — the same treatment as the
recursive narration (F14).
"""

from __future__ import annotations

import hashlib
import json
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SNOWFLAKE_RE = re.compile(r"\b\d{17,20}\b")


def hashed_id(raw: str) -> str:
    """F8: stable anonymous id, byte-for-byte the reference rendering
    (anonymize.py:24-29): the md5 digest read as an unsigned little-endian
    integer, decimal-rendered, truncated to the FIRST 18 digits and
    left-zero-padded to 18 — "compatible with naive discord regexes"."""
    n = int.from_bytes(hashlib.md5(str(raw).encode()).digest(), "little")
    return "{0:0>18}".format(str(n)[:18])


def anonymize_value(v, name_map: dict[str, str] | None = None):
    """F10: recursive walk replacing snowflake ids everywhere and mapping
    known names via ``name_map``."""
    if isinstance(v, dict):
        return {k: anonymize_value(x, name_map) for k, x in v.items()}
    if isinstance(v, list):
        return [anonymize_value(x, name_map) for x in v]
    if isinstance(v, str):
        out = _SNOWFLAKE_RE.sub(lambda m: hashed_id(m.group(0)), v)
        for old, new in (name_map or {}).items():
            out = out.replace(old, new)
        return out
    if isinstance(v, int) and len(str(abs(v))) >= 17:
        return int(hashed_id(str(v)))
    return v


def anonymize_json_str(s: str | None) -> str | None:
    if s is None:
        return None
    try:
        return json.dumps(anonymize_value(json.loads(s)))
    except (ValueError, TypeError):
        return _SNOWFLAKE_RE.sub(lambda m: hashed_id(m.group(0)), s)


@pandas_udf(StringType())
def anonymize_json(col: pd.Series) -> pd.Series:
    """Arrow-batched F10 over a JSON-string column."""
    return col.map(anonymize_json_str)

"""Scalar coercion helpers (SURVEY §2.2 P3).

Parity: reference cartography/util.py:303-332 — ``dict_date_to_epoch``,
``camel_to_snake`` — and ``ensure_list`` (intel/aws/iam.py:531-534).  All
are per-row Python there; here the data-plane ones are native columns and
``camel_to_snake`` is driver-side metadata (a rename needs no data pass).
The reference's ``dict_value_to_str`` (util.py:291-302) is the schema
compiler's property stringification (core/loader.py ``_stringify``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def date_to_epoch(col) -> Column:
    """Date/timestamp/ISO-string -> epoch seconds, NULL-safe (util.py:303-312)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(c.cast("timestamp"))


def ensure_list(col) -> Column:
    """Scalar -> 1-element array; arrays pass through (iam.py:531-534 coerces
    policy Action/Resource the same way).  Apply to a string column that may
    hold either a JSON array or a scalar."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.from_json(c, T.ArrayType(T.StringType()))
    return F.when(parsed.isNotNull(), parsed).otherwise(F.array(c))


def camel_to_snake(name: str) -> str:
    """Column-name normalization (util.py:315-316) — driver-side metadata."""
    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", name)
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s).lower()


def snake_case_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[camel_to_snake(c) for c in df.columns])

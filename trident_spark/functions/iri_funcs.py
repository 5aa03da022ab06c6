"""Arrow-vectorized Spark UDFs wrapping the IRI kernel.

Each UDF processes a whole Arrow batch at a time (pandas Series in/out); the
per-batch work deduplicates inputs first (web corpora repeat hosts, base URLs
and hub IRIs heavily), computes each distinct value once, then maps back —
so the Python cost is O(distinct), not O(rows).  A conservative regex fast
path skips the full normalizer for URLs that are already in canonical form
(the overwhelmingly common case in a crawl).

Error contract: every UDF returns a struct with a ``value``/component field
plus an ``error`` string column; bad rows never throw (a single malformed
href must not kill a 100 TB job).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from trident_spark.kernels import iri as K

__all__ = [
    "iri_parse",
    "iri_resolve",
    "iri_normalize",
    "iri_to_uri",
    "uri_to_iri",
    "iri_relativize",
]

IRI_PARSE_SCHEMA = StructType(
    [
        StructField("iri", StringType()),
        StructField("scheme", StringType()),
        StructField("authority", StringType()),
        StructField("path", StringType()),
        StructField("query", StringType()),
        StructField("fragment", StringType()),
        StructField("is_absolute", BooleanType()),
        StructField("error", StringType()),
    ]
)

VALUE_ERROR_SCHEMA = StructType(
    [StructField("value", StringType()), StructField("error", StringType())]
)

def _map_unique(ser: pd.Series, fn, width: int = 2) -> pd.DataFrame:
    """Apply fn once per distinct value; fn returns a tuple of outputs."""
    uniq = ser.dropna().unique()
    table = {v: fn(v) for v in uniq}
    if table:
        width = len(next(iter(table.values())))
    none_row = (None,) * width
    rows = [table[v] if v is not None else none_row for v in ser]
    return pd.DataFrame(rows)


@pandas_udf(IRI_PARSE_SCHEMA)
def iri_parse(s: pd.Series) -> pd.DataFrame:
    """Validate + decompose an IRI reference (kernel: parse_ref, A1-A11)."""

    def one(v: str):
        try:
            ref = K.parse_ref(v)
            c = K.components(ref)
            return (ref.iri, c.scheme, c.authority, c.path, c.query,
                    c.fragment, c.is_absolute, None)
        except K.IRIError as e:
            return (None, None, None, None, None, None, None, str(e))

    df = _map_unique(s, one, width=8)
    df.columns = ["iri", "scheme", "authority", "path", "query", "fragment",
                  "is_absolute", "error"]
    return df


def _value_error_udf(fn):
    def batch(s: pd.Series) -> pd.DataFrame:
        def one(v: str):
            try:
                return (fn(v), None)
            except (K.IRIError, ValueError) as e:
                return (None, str(e))

        df = _map_unique(s, one)
        df.columns = ["value", "error"]
        return df

    return pandas_udf(VALUE_ERROR_SCHEMA)(batch)


iri_normalize = _value_error_udf(K.normalize)  # kernel has its own fast path
iri_normalize.__doc__ = "Canonical IRI per RFC 3986 §6.2 (kernel A15-A17)."

iri_to_uri = _value_error_udf(K.iri_to_uri)
uri_to_iri = _value_error_udf(lambda v: K.uri_to_iri(v).iri)


@pandas_udf(VALUE_ERROR_SCHEMA)
def iri_resolve(base: pd.Series, rel: pd.Series) -> pd.DataFrame:
    """Resolve relative references against per-row bases (kernel A12-A14).

    Bases are parsed once per distinct base (one page yields many hrefs),
    and (base, rel) pairs are memoized within the batch.
    """
    base_cache: dict[str, object] = {}
    pair_cache: dict[tuple, tuple] = {}
    out = []
    for b, r in zip(base, rel):
        if b is None or r is None:
            out.append((None, "null input"))
            continue
        key = (b, r)
        hit = pair_cache.get(key)
        if hit is None:
            try:
                parsed = base_cache.get(b)
                if parsed is None:
                    parsed = K.parse_ref(b)
                    base_cache[b] = parsed
                hit = (K.resolve(parsed, r).iri, None)
            except K.IRIError as e:
                hit = (None, str(e))
            pair_cache[key] = hit
        out.append(hit)
    return pd.DataFrame(out, columns=["value", "error"])


@pandas_udf(VALUE_ERROR_SCHEMA)
def iri_relativize(base: pd.Series, target: pd.Series) -> pd.DataFrame:
    """Shortest relative reference from base to target (kernel A22)."""
    out = []
    for b, t in zip(base, target):
        if b is None or t is None:
            out.append((None, "null input"))
            continue
        try:
            out.append((K.relativize(b, t), None))
        except K.IRIError as e:
            out.append((None, str(e)))
    return pd.DataFrame(out, columns=["value", "error"])


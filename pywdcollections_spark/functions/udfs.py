"""Arrow-vectorized pandas UDFs: the KG pipeline's Python crossings
(extract/parse, coordinate and URL coercion, wikilink mentions). They
are not the engine's only ones — operators/multimodal.py runs its own
``mapInPandas`` stages — and constant tables must not add any: build
them with ``localtable.local_table``, never ``createDataFrame(<list>)``.

Every UDF here wraps a pure function from functions/* and is
Series->Series (Arrow batches, no per-row Python at the Spark
boundary, per BASELINE.json input_hint). Coordinate arithmetic and URL
normalization stay in Python for bit parity with the reference
(Python round() banker's rounding, pywdcollections.py:1246,1252).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pywdcollections_spark.functions.coerce import (
    find_wikilink_mentions,
    normalize_named_coordinate,
    normalize_url,
    parse_coordinate_value,
    positional_coordinates,
)
from pywdcollections_spark.functions.text_extract import extract_text_series

TEMPLATES_TYPE = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("params", T.ArrayType(T.StringType())),
]))


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


@F.pandas_udf(TEMPLATES_TYPE)
def extract_and_parse_udf(html: pd.Series) -> pd.Series:
    """Fused html -> templates: one Arrow crossing instead of two (the
    intermediate wikitext — KBs per page — never round-trips)."""
    from pywdcollections_spark.functions.text_extract import extract_text
    from pywdcollections_spark.functions.wikitemplates import parse_templates
    return html.map(lambda h: parse_templates(extract_text(h)))


# The parse UDF IS deterministic, but is marked nondeterministic to
# stop InferFiltersFromGenerate duplicating the Python crossing: the
# inferred `size(templates)>0` filter below the posexplode otherwise
# re-evaluates the UDF, doubling the dominant cost of the whole
# pipeline (measured: two stacked ArrowEvalPython nodes per page scan
# in BENCH/PLANS.md before this). No correctness impact — the column
# only ever feeds a projection + explode.
extract_and_parse_udf = extract_and_parse_udf.asNondeterministic()


@F.pandas_udf(T.ArrayType(T.StringType()))
def wikilink_mentions_udf(vals: pd.Series) -> pd.Series:
    return vals.map(find_wikilink_mentions)


@F.pandas_udf(T.StringType())
def coord_named_normalize_udf(vals: pd.Series) -> pd.Series:
    # None-safe: the caller NULL-gates non-625 rows inside the argument
    return vals.map(lambda v: normalize_named_coordinate(v)
                    if v is not None else None)


@F.pandas_udf(T.StringType())
def coord_positional_udf(params: pd.Series) -> pd.Series:
    """Positional-625 value: literal '%s|%s|0' when the template carries
    coordinates, '' otherwise — the reference's missing-interpolation
    defect mirrored deliberately (pywdcollections.py:390)."""
    def f(ps):
        lat, lon = positional_coordinates(list(ps) if ps is not None else [])
        return "%s|%s|0" if lat and lon else ""
    return params.map(f)


@F.pandas_udf(T.StructType([
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("norm", T.StringType()),
]))
def coord_parse_udf(vals: pd.Series) -> pd.DataFrame:
    """Parse a 'lat|lon|alt' staged value; ``norm`` uses Python repr so
    the canonical string is bit-stable vs the golden fixtures."""
    out = vals.map(lambda v: parse_coordinate_value(v) if v is not None else None)
    return pd.DataFrame({
        "lat": out.map(lambda t: t[0] if t else None),
        "lon": out.map(lambda t: t[1] if t else None),
        "norm": out.map(lambda t: f"{t[0]!r}|{t[1]!r}" if t else None),
    })


@F.pandas_udf(T.StringType())
def url_normalize_udf(vals: pd.Series) -> pd.Series:
    return vals.map(lambda v: normalize_url(v) if v is not None else None)


@F.pandas_udf(T.BooleanType())
def int_parse_ok_udf(vals: pd.Series) -> pd.Series:
    """Bit parity with the reference's integer gate, which is literally
    ``int(value)`` in a try/except (pywdcollections.py:1182-1185):
    Python int() also accepts digit-group underscores ('1_234') and
    unicode digits, which no portable regex reproduces exactly."""
    def ok(v):
        if v is None:
            return None
        try:
            int(v)
            return True
        except (TypeError, ValueError):
            return False
    return vals.map(ok)


#: the 29 code points where Python's ``str.isspace()`` holds, as a Java
#: regex class: Java's ``\s`` covers only 6 of them and Spark's
#: ``trim()`` only U+0020
_PY_SPACE = r"[\t-\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A\u2028\u2029\u202F\u205F\u3000]"


def python_trim(col):
    """Python ``str.strip()`` parity: strips all 29 whitespace code
    points from both ends."""
    return F.regexp_replace(col, f"^{_PY_SPACE}+|{_PY_SPACE}+$", "")

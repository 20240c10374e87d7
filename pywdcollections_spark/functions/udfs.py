"""Arrow-vectorized pandas UDFs — the engine's only Python crossings.

Every UDF here wraps a pure function from functions/* and is
Series->Series (Arrow batches, no per-row Python at the Spark
boundary, per BASELINE.json input_hint). The KG path crosses into
Python at exactly two plan nodes:

 * parse: ``extract_and_parse_udf`` (html -> templates; the
   tokenizer has no built-in-function form);
 * validate: ``coord_parse_udf``, ``url_normalize_udf`` and
   ``int_parse_ok_udf``, evaluated together in one node. Coordinate
   arithmetic stays in Python for bit parity with the reference
   (Python round() banker's rounding and float repr,
   pywdcollections.py:1246,1252), URL normalization for its
   str.strip()/split chain, the integer gate because it is literally
   int() (underscores, unicode digits).

Every other value rule on the path (wikilink mentions, named and
positional coordinates, str.strip()) is a native expression in
functions/native.py. ``extract_text_udf`` and ``parse_templates_udf``
serve the text-parity check and the ``use_html=False`` parse.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pywdcollections_spark.functions.coerce import (
    normalize_url,
    parse_coordinate_value,
)
from pywdcollections_spark.functions.text_extract import extract_text_series
from pywdcollections_spark.functions.wikitemplates import parse_templates_series

TEMPLATES_TYPE = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("params", T.ArrayType(T.StringType())),
]))


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


@F.pandas_udf(TEMPLATES_TYPE)
def parse_templates_udf(texts: pd.Series) -> pd.Series:
    return parse_templates_series(texts)


@F.pandas_udf(TEMPLATES_TYPE)
def extract_and_parse_udf(html: pd.Series) -> pd.Series:
    """Fused html -> templates: one Arrow crossing instead of two (the
    intermediate wikitext — KBs per page — never round-trips)."""
    from pywdcollections_spark.functions.text_extract import extract_text
    from pywdcollections_spark.functions.wikitemplates import parse_templates
    return html.map(lambda h: parse_templates(extract_text(h)))


# Both parse UDFs ARE deterministic, but are marked nondeterministic to
# stop InferFiltersFromGenerate duplicating the Python crossing: the
# inferred `size(templates)>0` filter below the posexplode otherwise
# re-evaluates the UDF, doubling the dominant cost of the whole
# pipeline (measured: two stacked ArrowEvalPython nodes per page scan
# in BENCH/PLANS.md before this). No correctness impact — the columns
# only ever feed a projection + explode.
parse_templates_udf = parse_templates_udf.asNondeterministic()
extract_and_parse_udf = extract_and_parse_udf.asNondeterministic()


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


# The validate UDFs are deterministic too, and fenced the same way:
# build_kg's ``valid`` filter is otherwise pushed through the projection
# that computes these columns, and the UDF calls in its condition become
# a second ArrowEvalPython node over the same rows (all three UDFs ran
# twice per staged row on the single-commit path). A nondeterministic
# projection stops that pushdown. The columns only feed projections.
coord_parse_udf = coord_parse_udf.asNondeterministic()
url_normalize_udf = url_normalize_udf.asNondeterministic()
int_parse_ok_udf = int_parse_ok_udf.asNondeterministic()

"""JVM-native value rules (functions/native.py) vs their coerce.py
specification, on generated input that hits every character class the
rules branch on: all str.isspace() characters, wikilink brackets,
namespace colons, pipes, slashes, DMS markers, a supplementary code
point and NULL."""

from hypothesis import given, settings
from hypothesis import strategies as st

from pywdcollections_spark.functions.coerce import (
    find_wikilink_mentions,
    normalize_named_coordinate,
    positional_coordinates,
)
from pywdcollections_spark.functions.native import (
    named_coordinate,
    positional_coordinate,
    python_trim,
    wikilink_mentions,
)
from pywdcollections_spark.operators.mapping import map_named_params

WHITESPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
TOKENS = (WHITESPACE
          + ["[[", "]]", "[", "]", ":", "|", "/", "=", "°", "′", "″", "'", '"',
             "\U0001F30D", "N", "S", "E", "W", "a", "Paris", "1", "45", "2.5"])
VALUE = st.lists(st.sampled_from(TOKENS), max_size=12).map("".join)
NULLABLE = st.none() | VALUE
PARAMS = st.none() | st.lists(NULLABLE, max_size=9)


def _coerce_named(v):
    return None if v is None else normalize_named_coordinate(v)


def _coerce_positional(ps):
    lat, lon = positional_coordinates(list(ps) if ps is not None else [])
    return "%s|%s|0" if lat and lon else ""


@given(rows=st.lists(st.tuples(NULLABLE, PARAMS), min_size=1, max_size=40))
@settings(max_examples=30, deadline=None)
def test_native_rules_match_coerce(spark, rows):
    df = spark.createDataFrame(list(enumerate(rows)),
                               "i int, row struct<v: string, ps: array<string>>")
    got = (df.select("i",
                     python_trim("row.v").alias("trim"),
                     wikilink_mentions("row.v").alias("mentions"),
                     named_coordinate("row.v").alias("named"),
                     positional_coordinate("row.ps").alias("pos"))
             .orderBy("i").collect())
    for r, (v, ps) in zip(got, rows):
        assert r["trim"] == (None if v is None else v.strip()), repr(v)
        assert r["mentions"] == find_wikilink_mentions(v), repr(v)
        assert r["named"] == _coerce_named(v), repr(v)
        assert r["pos"] == _coerce_positional(ps), repr(ps)


def test_python_trim_strips_every_isspace_character(spark):
    vals = ["Paris\xa0", "x\x85", " a b\u3000", "\x1cq\x1f", "y\n\x85",
            "".join(WHITESPACE), "in\xa0side"]
    got = [r[0] for r in spark.createDataFrame([(v,) for v in vals], "v string")
           .select(python_trim("v")).collect()]
    assert got == [v.strip() for v in vals]


def test_named_param_value_is_python_stripped(spark):
    # reference strips the value with str.strip() (pywdcollections.py:362-363)
    tpl = spark.createDataFrame(
        [("u", 1, "enwiki", "Q1", 0, "t", ["location = Paris\xa0", "Name =x"])],
        "url string, warc_ts long, site string, qid string, template_idx int, "
        "template_lc string, params array<string>")
    tmap = spark.createDataFrame(
        [("enwiki", "t", "location", "131", "P131", "entity")],
        "site string, template_lc string, param_lc string, prop_key string, "
        "pred string, datatype string")
    got = map_named_params(tpl, tmap).select("val").collect()
    assert [r["val"] for r in got] == ["Paris"]

"""JVM-native twins of the coerce.py value rules used on the KG path.

Each builder returns a Catalyst Column expression that gives exactly
the output of the pure-Python function it names (coerce.py stays the
parity specification; tests/test_native_exprs.py checks each pair on
generated input). Built from built-in functions only, so these rules
run inside whole-stage codegen with no Arrow crossing and no Python
worker.

Each builder takes a SQL expression (a column name such as ``"val"``
or ``"kv[0]"``) and parses its rule as one SQL expression: 3 py4j
commands per rule. Composed from ``F.*`` calls, the same rule costs
commands per function, operator and lambda (PySpark 4.1 classic: 13
for one ``F.col``, 40 for one ``F.when``), paid on every pipeline
build.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the 29 characters for which Python's str.isspace() is true — what
# str.strip() removes. Java's \s covers only 6 of them.
PY_WHITESPACE = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
                 "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
                 "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000")
_WS_CLASS = "[" + "".join(f"\\u{ord(c):04x}" for c in PY_WHITESPACE) + "]"
# \z, not $: $ also matches before a final line terminator (\n,
# \x85, \u2028, ...), which would leave that terminator in place.
# Raw SQL literals (r'...'): the backslashes reach the Java regex as is.
_STRIP_RE = f"r'^{_WS_CLASS}+|{_WS_CLASS}+\\z'"
_WIKILINK_RE = r"r'(?s)\[\[(.*?)\]\]'"  # coerce.WIKILINK_RE (DOTALL, non-greedy)
_COORD_LITERAL = "'%s|%s|0'"  # the reference's uninterpolated value (:390)


def _strip(x: str) -> str:
    return f"regexp_replace({x}, {_STRIP_RE}, '')"


def python_trim(x: str) -> Column:
    """``str.strip()``: every str.isspace() character at either end
    (Spark's trim() strips ' ' only)."""
    return F.expr(_strip(x))


def wikilink_mentions(x: str) -> Column:
    """coerce.find_wikilink_mentions: stripped ``[[...]]`` targets in
    order, duplicates kept, namespace links (':') skipped; NULL -> []."""
    found = f"regexp_extract_all(coalesce({x}, ''), {_WIKILINK_RE}, 1)"
    return F.expr(f"filter(transform({found}, m -> {_strip('m')}), "
                  "m -> NOT contains(m, ':'))")


def named_coordinate(x: str) -> Column:
    """coerce.normalize_named_coordinate (NULL -> NULL): strip, drop
    tabs, spaces -> '|'; one '/' is the decimal 'lat/lon' form,
    otherwise DMS markers become '/' and a hemisphere letter before
    one becomes 'N|' / 'S|'."""
    v = f"translate({_strip(x)}, ' \\t', '|')"  # ' ' -> '|', tab deleted
    dms = f"regexp_replace(translate({v}, '°′″\\'\"', '/////'), '([NS])/', '$1|')"
    return F.expr(f"concat(CASE WHEN length({v}) - length(replace({v}, '/', '')) = 1 "
                  f"THEN translate({v}, '/', '|') ELSE {dms} END, '|0')")


def positional_coordinate(x: str) -> Column:
    """The positional-625 value (mapping's use of
    coerce.positional_coordinates): the literal '%s|%s|0' when the
    template carries coordinates — 8+ params, or 2+ with the first two
    non-empty — and '' otherwise (NULL params included). A NULL
    element formats as 'None' in the reference, so it counts as
    non-empty."""
    non_empty = lambda i: f"coalesce(length(get({x}, {i})) > 0, true)"
    return F.expr(f"CASE WHEN size({x}) >= 8 THEN {_COORD_LITERAL} "
                  f"WHEN size({x}) > 1 AND {non_empty(0)} AND {non_empty(1)} "
                  f"THEN {_COORD_LITERAL} ELSE '' END")

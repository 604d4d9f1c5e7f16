"""Data-type inference for property values.

Reference: lib/document_parser.rb:62-77 (`infer_type`) — checked in
order integer, float, boolean, datetime, else string; date/time
patterns are PREFIX matches (Ruby `/^.../` without `$`), boolean is
case-insensitive full match; nil/empty => 'string'.

Implemented as a pure Column expression so inference runs inside
whole-stage codegen — no Python in the path, works at any scale.
The checks use translate/substring string primitives instead of
regexes (regex evaluation dominated the property-build profile at
~5s per 4M values); ``infer_type_regex`` keeps the literal regex
formulation as the executable spec, and a test asserts the two are
byte-identical over adversarial inputs.

The boolean check folds case with ``translate`` over the letters of
``true``/``false`` instead of ``lower()``. The first ``lower()`` in a
JVM loads ICU's case mapping, about a second of start-up on a cold
conversion, and the check needs only ASCII. The result is the same as
``lower()`` on every input: the only non-ASCII code points whose
lowercase contains an ASCII letter are U+212A KELVIN SIGN (to ``k``,
which neither word contains) and U+0130 (to ``i`` + U+0307, which
neither word can contain).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def infer_type_regex(value: Column) -> Column:
    """The literal regex transcription of the reference's checks —
    the semantic spec for ``infer_type`` (slower; kept for tests)."""
    return (
        F.when(value.isNull() | (value == ""), F.lit("string"))
        .when(value.rlike(r"^[0-9]+$"), F.lit("integer"))
        .when(value.rlike(r"^[0-9]+\.[0-9]+$"), F.lit("float"))
        .when(F.lower(value).rlike(r"^(true|false)$"), F.lit("boolean"))
        .when(
            value.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}")
            | value.rlike(r"^[0-9]{2}:[0-9]{2}:[0-9]{2}"),
            F.lit("datetime"),
        )
        .otherwise(F.lit("string"))
    )


def infer_type(value: Column) -> Column:
    """Infer the reference's data_type label for a string column.

    Regex-free equivalent of ``infer_type_regex``: every pattern
    except boolean requires a leading digit, so one first-char test
    splits the cases, and the anchored digit patterns reduce to
    ``translate`` residues (strip digits; what remains must be
    exactly '', '.', '--', or '::' at fixed positions).
    """
    first = F.substring(value, 1, 1)
    residue = F.translate(value, "0123456789", "")
    is_integer = residue == ""  # ^[0-9]+$  (value != "" handled above)
    is_float = (  # ^[0-9]+\.[0-9]+$ : one dot, digits on both sides
        (residue == ".")
        & (F.substring(value, 1, 1) != ".")
        & (F.substring(value, -1, 1) != ".")
    )
    is_date = (  # ^[0-9]{4}-[0-9]{2}-[0-9]{2}  (prefix match)
        (F.length(value) >= 10)
        & (F.translate(F.substring(value, 1, 10), "0123456789", "") == "--")
        & (F.substring(value, 5, 1) == "-")
        & (F.substring(value, 8, 1) == "-")
    )
    is_time = (  # ^[0-9]{2}:[0-9]{2}:[0-9]{2}  (prefix match)
        (F.length(value) >= 8)
        & (F.translate(F.substring(value, 1, 8), "0123456789", "") == "::")
        & (F.substring(value, 3, 1) == ":")
        & (F.substring(value, 6, 1) == ":")
    )
    return (
        F.when(value.isNull() | (value == ""), F.lit("string"))
        .when(
            (first >= "0") & (first <= "9"),
            F.when(is_integer, F.lit("integer"))
            .when(is_float, F.lit("float"))
            .when(is_date | is_time, F.lit("datetime"))
            .otherwise(F.lit("string")),
        )
        .when(
            F.translate(value, "TRUEFALS", "truefals").isin("true", "false"),
            F.lit("boolean"),
        )
        .otherwise(F.lit("string"))
    )

"""One-py4j-call construction of literal double arrays.

``F.array(*[F.lit(float(v)) for v in vec])`` pays one py4j round-trip PER
ELEMENT building the plan on the driver — measured 28.6 ms per 64-dim
vector (and ~1 s for a 2048-entry ADC distance table) of pure driver-side
marshalling, paid per probe / per k-means iteration / per classifier plan.
Rendering the same literal as ONE SQL text (``array(0.1D, ...)``) hands
construction to the JVM parser: 0.4 ms at dim 64, ~70x less (guide §5 —
the driver should do almost no data work; this was data work smuggled
into plan construction).

Bit-exactness: ``repr(float)`` is Python's shortest round-trip rendering
and Java's ``Double.parseDouble`` is correctly rounded, so the parsed
literal is the identical IEEE-754 double — including -0.0 and extreme
exponents (pinned by tests/test_lits.py). NaN and the infinities have no
literal and render as ``CAST('NaN'|'Infinity'|'-Infinity' AS DOUBLE)``;
``array()`` types as array<void>, exactly like ``F.array()``.

The same module holds the rule for every literal that request parameters
put into SQL text: doubles through ``double_sql``, integers through
``as_int`` (HTTP parameters arrive as floats, so ``3.0`` is the integer 3,
while ``2.5``, NaN and the infinities are ValueErrors), and strings through
``string_sql`` (backslash and quote escaped).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_sql(value: float) -> str:
    """SQL text of one double literal."""
    v = float(value)
    if math.isfinite(v):
        return repr(v) + "D"
    return "CAST('" + ("NaN" if v != v else "Infinity" if v > 0 else "-Infinity") + "' AS DOUBLE)"


def as_int(value: float | int | str) -> int:
    """An integer parameter: ints and integer text pass, an integral float
    converts; anything else is a ValueError."""
    if isinstance(value, (int, str)):
        return int(value)
    v = float(value)
    if not v.is_integer():
        raise ValueError(f"expected an integer parameter, got {value!r}")
    return int(v)


def string_sql(value: str) -> str:
    """SQL text of one Spark string literal, `\\` and `'` backslash-escaped."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _render(vals) -> str:
    return "array(" + ",".join(double_sql(v) for v in vals) + ")"


def const_double_array(values) -> Column:
    """array<double> literal Column from a Python sequence, in one py4j
    call (bit-identical to the per-element F.array of F.lit)."""
    return F.expr(_render(values))


def const_double_matrix(rows) -> Column:
    """array<array<double>> literal Column (row-major) — the nested twin
    of const_double_array, one py4j call for the whole matrix."""
    return F.expr("array(" + ",".join(_render(row) for row in rows) + ")")

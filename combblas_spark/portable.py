"""Engine-portable rounding.

``round(x, nd)`` on doubles has engine- and version-specific tie
behavior (Spark rounds HALF_UP via BigDecimal; DuckDB's double
``round`` has changed semantics across releases — the round-4 driver
reds ``dup_spans`` / ``tf_cosine`` were exactly this divergence, both
bit-exact against DuckDB 1.0.0 locally).  ``floor(x*10^nd + 0.5) /
10^nd`` is a composition of individually correctly-rounded IEEE-754
ops (multiply, add, floor, divide), so ANY two IEEE engines produce
the SAME double for the same input — and it is value-identical to
HALF_UP everywhere except exact negative ties (where it rounds toward
+inf instead of away from zero; both engines still agree with each
other, which is the property the oracle gate needs).

Every rounded-double OUTPUT column in this package and every SQL twin
in ``__spark_entry__.py`` uses this form (round-5 sweep).
"""
from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(c: Column | str, nd: int = 6) -> Column:
    """Bit-portable HALF_UP-style rounding of a double Column to ``nd``
    decimals: ``floor(x * 10^nd + 0.5) / 10^nd``.  Exact for
    ``|x| * 10^nd < 2^53`` (every score/fraction/rank column here).
    Engine-agreement bound: Spark's ``floor(double)`` narrows to LONG,
    so past ``|x| * 10^nd >= 2^63`` Spark saturates where DuckDB's
    double ``floor`` does not — between 2^53 and 2^63 both engines
    agree (an integral double ≥ 2^53 round-trips the long conversion
    exactly), above 2^63 they diverge.  The bound shrinks with ``nd``:
    |x| < 2^63 / 10^nd, i.e. ~9.2e12 at nd=6 but only ~9.2e6 at nd=12,
    so a caller rounding at high ``nd`` must bound its inputs (see
    ``sweep_cut``)."""
    s = F.lit(float(10 ** nd))
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c.cast("double") * s + F.lit(0.5)) / s


def pround_py(x: float, nd: int = 6) -> float:
    """Python twin of :func:`pround` for pandas/driver-side scalars —
    same IEEE op sequence, so it matches the Column form bit-for-bit
    (Python's builtin ``round`` is banker's rounding and does not)."""
    s = float(10 ** nd)
    return math.floor(x * s + 0.5) / s


def pround_sql(expr: str, nd: int = 6) -> str:
    """DuckDB/ANSI-SQL twin of :func:`pround` as a text template."""
    return f"floor(({expr}) * 1e{nd} + 0.5) / 1e{nd}"

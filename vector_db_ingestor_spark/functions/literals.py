"""Numeric array literals as SQL fragments.

The model constants this engine embeds in its plans — centroid grids,
PQ codebooks, ADC tables, hyperplane banks — are written as SQL text
(:func:`doubles_sql`, :func:`double_matrix_sql`) and compose into the
vector fragments of :mod:`vector_db_ingestor_spark.functions.vector`;
the Column forms are one ``F.expr`` over the same text.  One parse per
literal instead of one py4j round trip PER ELEMENT (``F.lit`` of a
16 x 64 matrix cost 845 ms of driver time, the string 1.1 ms), and
bit-identical: ``repr(float)`` is the shortest round-tripping decimal,
and Spark's SQL lexer parses the ``D`` suffix with
``java.lang.Double.parseDouble`` — the exact inverse.  Parity
(including -0.0, denormals, and 1e308-scale values) is pinned in
tests/test_operators.py.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: float) -> str:
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal: {x!r}")
    return repr(v) + "D"


def doubles_sql(vals: Sequence[float]) -> str:
    """``array<double>`` literal as a SQL fragment (for composing into a
    larger single-``F.expr`` build).

    Non-empty contract (ADVICE r15 #2): a bare ``array()`` parses as
    ``array<string>``, silently changing the expression's type, so the
    empty case returns an explicitly typed empty-double-array literal
    instead — the same value ``F.lit([])`` cast to array<double> gave
    the call sites this builder replaced."""
    if len(vals) == 0:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(_d(v) for v in vals) + ")"


def lit_doubles(vals: Sequence[float]) -> Column:
    """``array<double>`` literal in one py4j call."""
    return F.expr(doubles_sql(vals))


def double_matrix_sql(rows: Sequence[Sequence[float]]) -> str:
    """``array<array<double>>`` literal as a SQL fragment, one
    :func:`doubles_sql` per row.

    An empty matrix is a typed empty literal (see :func:`doubles_sql`);
    an empty INNER row stays a ``ValueError`` — a mixed-shape matrix
    has no sensible meaning for the centroid/codebook grids this
    builds, and every caller derives rows from a fixed ``dim``."""
    if len(rows) == 0:
        return "CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"
    if any(len(r) == 0 for r in rows):
        raise ValueError("double_matrix_sql: empty inner row")
    return "array(" + ",".join(doubles_sql(r) for r in rows) + ")"


def lit_double_matrix(rows: Sequence[Sequence[float]]) -> Column:
    """``array<array<double>>`` literal in one py4j call."""
    return F.expr(double_matrix_sql(rows))

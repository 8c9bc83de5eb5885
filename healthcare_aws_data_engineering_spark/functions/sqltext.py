"""Spark SQL literals for the expression builders that emit SQL text.

The clinical rows build their expressions as Spark SQL text and apply a
whole projection layer with one ``selectExpr`` (or one ``agg``), one
py4j round trip where a ``Column`` tree costs one per call. Catalyst
builds the same expression tree from the text as from the ``Column``
calls as long as every literal parses to the same type and value:

- a float is a DOUBLE literal with the same bits (:func:`double_lit`);
- an int stays bare: INT in range, BIGINT beyond, as ``F.lit`` types it;
- a string is quoted, with ``'`` and ``\\`` escaped;
- a chain of three or more ANDs, ORs or sums is parenthesized into the
  left fold a ``Column`` chain builds (:func:`fold`): the parser would
  build a balanced AND/OR tree from a flat chain.
"""

from __future__ import annotations

import math
from collections.abc import Iterable


def double_lit(x: float) -> str:
    """Shortest round-trip float literal, forced onto the DOUBLE parse
    path in Spark and DuckDB alike via an exponent suffix. Without it,
    both engines parse a bare decimal as DECIMAL, and DuckDB's
    DECIMAL→DOUBLE conversion is not correctly rounded: bare
    0.9700000286102295 lands one ulp high (…96), which flipped an XGB
    split for feature values exactly AT the split, caught at sf0.1 as a
    35-micro-unit probability jump. ``…e0`` parses as DOUBLE (correctly
    rounded) in both engines; scientific reprs already carry an exponent
    and pass through."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for {x!r}")
    s = repr(x)
    return s if ("e" in s or "E" in s) else s + "e0"


def lit(value: object) -> str:
    """Spark SQL literal text for a Python None, bool, int, float or str."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return double_lit(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def isin(value: str, options: Iterable[object]) -> str:
    """``value IN (o1, o2, …)`` over literal options."""
    return f"{value} IN ({', '.join(map(lit, options))})"


def fold(op: str, terms: Iterable[str]) -> str:
    """``((t1 op t2) op t3) op …`` — the left fold of ``terms``."""
    it = iter(terms)
    out = next(it)
    for term in it:
        out = f"({out} {op} {term})"
    return out


def micro_mean(s: str, n: str, idiv: str) -> str:
    """The mean ``s / n`` of a DECIMAL(·,6) sum ``s`` over a positive
    count ``n``, rounded half away from zero to 6 decimals in exact
    integer arithmetic and returned as DOUBLE. ``S = s·1e6`` is exact as
    a BIGINT, and ``sign(S)·((2|S| + n) DIV (2n))`` is the rounded mean
    in micro-units; dividing that integer by ``1e6`` is correctly rounded
    in every engine. ``round(s / n, 6)`` over a DOUBLE quotient is not
    engine-neutral on a tie: the quotient lands within an ulp of the half
    micro-unit, and Spark rounds its decimal string while DuckDB rounds
    after scaling by 1e6. ``idiv`` is the engine's integer division
    operator: ``div`` in Spark, ``//`` in DuckDB."""
    big_s = f"CAST({s} * 1000000 AS BIGINT)"
    return (
        f"CAST(sign({big_s}) * ((2 * abs({big_s}) + {n}) {idiv} (2 * {n})) AS DOUBLE)"
        " / 1e6"
    )

"""Coordinate scalar functions (reference model/types.go:62-139).

Closes the A28 residual from round 1: DMS formatting, ParseDegrees, the
E5/E6/E7 fixed-point projections and epsilon comparison, alongside the
nano-degree conversions the wire decode applies in wire/osmformat.py
(nano_degrees / to_degrees).

Everything except DMS formatting is a pure Catalyst column expression;
the DMS string needs Go's shortest-positional float rendering
(strconv.FormatFloat(-1) — matched by numpy's format_float_positional),
so it is a vectorized pandas UDF (cosmetic output path, not a hot path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

E5, E6, E7, E9 = 1e-5, 1e-6, 1e-7, 1e-9
NANOS_PER_DEGREE = 1_000_000_000


def parse_degrees(col: Column | str) -> Column:
    """String → degrees (model/types.go:131-139 — plain float parse)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("double")


def _half_away(c: Column) -> Column:
    """model/types.go round(): half away from zero (long; E* casts to int)."""
    return F.when(c < 0, (c - 0.5).cast("long")).otherwise((c + 0.5).cast("long"))


def degrees_e5(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return _half_away(c * 100_000).cast("int")


def degrees_e6(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return _half_away(c * 1_000_000).cast("int")


def degrees_e7(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return _half_away(c * 10_000_000).cast("int")


def degrees_coordinate(col: Column | str) -> Column:
    """Degrees → nano-degrees, truncating like Go's int64() conversion."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * NANOS_PER_DEGREE).cast("long")


def equal_within(a: Column, b: Column, eps: float = E9) -> Column:
    """model/types.go EqualWithin: equality of half-away-rounded eps grids."""
    return _half_away(a / eps) == _half_away(b / eps)


@pandas_udf(T.StringType())
def dms_string(deg: pd.Series) -> pd.Series:
    """Degrees → ``D° M' S"`` (model/types.go String(), ftoa = shortest
    positional float)."""
    v = deg.to_numpy(np.float64)
    out = []
    for x in v:
        if np.isnan(x):
            out.append(None)
            continue
        sign = "-" if x < 0 else ""
        a = abs(x)
        d = int(np.floor(a))
        m = int(np.floor(60.0 * (a - d)))
        s = 3600.0 * (a - d - m / 60.0)
        out.append(f"{sign}{d}° {m}' {np.format_float_positional(s, trim='-')}\"")
    return pd.Series(out, dtype="object")

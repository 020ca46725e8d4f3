"""S2 cell ids as pure SQL expressions — no Python in the hot path.

Same published algorithm as s2.py (cube face → quadratic st → Hilbert
fold), expressed as column arithmetic in the DuckDB dialect so the
DuckDB oracle computes cell ids itself — making cell-keyed queries
*exactly* cross-checkable against the engine's numpy UDF.

The Hilbert loop is a fold over the level bits with the (pos,
orientation) state packed into one BIGINT (state = pos*4 + ori), using
``list_reduce`` — the higher-order function gives the let-binding that
keeps the expression tree linear in the level instead of exponential.

Intermediate columns (face/u/v/i/j) are materialized as layered
subqueries so the trig subexpressions evaluate once.
"""

from __future__ import annotations

from .s2 import MAX_LEVEL

# flattened lookup tables (s2.py _IJ_TO_POS / _POS_TO_ORIENTATION)
_IJ2POS = [0, 1, 3, 2, 0, 3, 1, 2, 2, 3, 1, 0, 2, 1, 3, 0]
_POS2ORI = [1, 0, 0, 3]


_FACE_EXPR = """
CASE WHEN abs(_x) >= abs(_y) THEN
       CASE WHEN abs(_x) >= abs(_z) THEN CASE WHEN _x < 0 THEN 3 ELSE 0 END
            ELSE CASE WHEN _z < 0 THEN 5 ELSE 2 END END
     ELSE CASE WHEN abs(_y) >= abs(_z) THEN CASE WHEN _y < 0 THEN 4 ELSE 1 END
            ELSE CASE WHEN _z < 0 THEN 5 ELSE 2 END END
END
"""

_U_EXPR = """
CASE _face WHEN 0 THEN _y / _x WHEN 1 THEN -_x / _y WHEN 2 THEN -_x / _z
           WHEN 3 THEN _z / _x WHEN 4 THEN _z / _y ELSE -_y / _z END
"""

_V_EXPR = """
CASE _face WHEN 0 THEN _z / _x WHEN 1 THEN _z / _y WHEN 2 THEN -_y / _z
           WHEN 3 THEN _y / _x WHEN 4 THEN -_x / _y ELSE -_x / _z END
"""


def _st_expr(uv: str) -> str:
    # matches s2._uv_to_st: pos = 0.5*sqrt(1+3|u|); u>=0 ? pos : 1-pos
    return (
        f"CASE WHEN {uv} >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * abs({uv})) "
        f"ELSE 1.0 - 0.5 * sqrt(1.0 + 3.0 * abs({uv})) END"
    )


def s2_cell_sql_duckdb(lat: str, lon: str, level: int, out: str = "s2_cell") -> str:
    """DuckDB SELECT-fragment pipeline: wrap as
    ``SELECT ..., {cell_expr} AS {out} FROM (... layered subqueries)``.

    Returns a full subquery template: caller supplies the FROM source via
    ``.format(src=...)``; all input columns are passed through.
    """
    ij2pos = f"[{', '.join(map(str, _IJ2POS))}]"
    pos2ori = f"[{', '.join(map(str, _POS2ORI))}]"
    shift = 2 * (MAX_LEVEL - level) + 1
    lsb = 1 << (shift - 1)
    n = 1 << level
    p = (
        f"{ij2pos}[CAST((acc % 4) * 4 + ((_i >> k) % 2) * 2 + ((_j >> k) % 2) + 1 AS INT)]"
    )
    # list_reduce has no explicit init → prepend the init state to the k list
    ks = ", ".join(str(k) for k in range(level - 1, -1, -1))
    fold = (
        f"list_reduce([CAST(_face % 2 AS BIGINT), {ks}], "
        f"(acc, k) -> CAST(((acc >> 2) * 4 + {p}) * 4 + "
        f"xor(acc % 4, {pos2ori}[CAST({p} + 1 AS INT)]) AS BIGINT))"
    )
    face_case = _FACE_EXPR.strip()
    u_case = _U_EXPR.strip()
    v_case = _V_EXPR.strip()
    # ids for faces 4-5 exceed int64 → two's-complement wrap (matches the
    # int64 view of the canonical uint64 cell id): subtract 8 before scaling
    return f"""(
  SELECT * EXCLUDE (_x, _y, _z, _face, _u, _v, _i, _j),
         CAST(CASE WHEN _face >= 4 THEN _face - 8 ELSE _face END AS BIGINT) * {1 << 61}
           + (({fold}) >> 2) * {2 ** shift} + {lsb} AS {out}
  FROM (
    SELECT *,
           CAST(least(greatest(floor(({_st_expr('_u')}) * {n}.0), 0.0), {n - 1}.0) AS BIGINT) AS _i,
           CAST(least(greatest(floor(({_st_expr('_v')}) * {n}.0), 0.0), {n - 1}.0) AS BIGINT) AS _j
    FROM (
      SELECT *, {u_case} AS _u, {v_case} AS _v
      FROM (
        SELECT *, {face_case} AS _face
        FROM (
          SELECT *,
                 cos(radians({lat})) * cos(radians({lon})) AS _x,
                 cos(radians({lat})) * sin(radians({lon})) AS _y,
                 sin(radians({lat})) AS _z
          FROM {{src}}
        )
      )
    )
  )
)"""

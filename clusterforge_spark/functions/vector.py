"""Vector math over array<float> embedding columns — paired Spark/SQL.

Every helper exists twice: a Spark ``Column`` builder and a DuckDB SQL
string builder, both generated from the same Python literals with the
same left-to-right association, so dot products / norms / cosines are
bit-identical IEEE arithmetic in both engines (the basis of the oracle
checks — no tolerance needed).

Scale note: explicit per-index expansion (e[0]*q0 + …) keeps the whole
computation inside Catalyst codegen as one projection — no UDF, no
shuffle; a 100 TB scan of embeddings is embarrassingly parallel. For
dynamic dimensions (not known at plan time) the F.aggregate/zip_with
form in :func:`dot_dynamic` is the fallback.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

DIM = 64


def _det_vec(dim: int, a: float, b: float) -> list[float]:
    """Deterministic pseudo-random unit-scale vector (6dp literals)."""
    return [round(math.sin(a * i + b) * 0.7, 6) for i in range(dim)]


#: Literal query vector for similarity search queries.
QUERY_VEC: list[float] = _det_vec(DIM, 12.9898, 78.233)

#: Second frontier query (r8): the batch ANN frontier report probes
#: TWO queries per corpus so the clustered recall win is demonstrably
#: not an artifact of one lucky query vector.
QUERY_VEC2: list[float] = _det_vec(DIM, 4.8137, 42.719)

#: 16 random hyperplanes for sign-LSH bucketing.
HYPERPLANES: list[list[float]] = [_det_vec(DIM, 3.77 + 0.613 * j, 1.0 + j) for j in range(16)]

#: 8 coarse centroids for the IVF-style partitioned search.
IVF_CENTROIDS: list[list[float]] = [_det_vec(DIM, 7.13 + 1.27 * j, 2.0 + 3 * j) for j in range(8)]


#: Product-quantization geometry: DIM split into PQ_M subspaces of
#: PQ_SUBDIM dims, PQ_KS deterministic literal centroids per subspace
#: (3-bit codes). Literal codebooks keep encoding a pure codegen
#: projection and make the whole PQ/ADC path oracle-checkable.
PQ_M = 8
PQ_SUBDIM = DIM // PQ_M
PQ_KS = 8
PQ_CODEBOOKS: list[list[list[float]]] = [
    [_det_vec(PQ_SUBDIM, 2.51 + 0.733 * m + 1.97 * c, 4.0 + m + 3 * c) for c in range(PQ_KS)]
    for m in range(PQ_M)
]


def py_dot(a: list[float], b: list[float]) -> float:
    """Python-side dot with engine-identical left-to-right association."""
    return reduce(lambda acc, t: acc + t, (x * y for x, y in zip(a, b)))


def py_dist2(a: list[float], b: list[float]) -> float:
    """Python-side squared L2 with engine-identical association."""
    return reduce(lambda acc, t: acc + t, ((x - y) * (x - y) for x, y in zip(a, b)))


def pq_adc_table(query: list[float]) -> list[list[float]]:
    """ADC lookup table: table[m][c] = dist²(query subvector m,
    codebook[m][c]) — PQ_M × PQ_KS literal doubles computed once on the
    driver with engine-identical math."""
    return [
        [
            py_dist2(query[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM], PQ_CODEBOOKS[m][c])
            for c in range(PQ_KS)
        ]
        for m in range(PQ_M)
    ]


QUERY_NORM: float = math.sqrt(py_dot(QUERY_VEC, QUERY_VEC))


# ---------------------------------------------------------------------------
# Planted-cluster corpus (the ANN demonstration fixture)
#
# The driver's synthetic embeddings are ISOTROPIC — recall tracks
# fan-out for ANY partition index there (measured and documented in
# ann_recall). To demonstrate the trained index actually bending the
# recall-vs-fan-out frontier, both engines derive a CLUSTERED corpus
# from vec_id alone: PLANT_G well-separated sin-literal centers
# (pairwise distance ≈ √(2·DIM·0.245) ≈ 5.6) plus md5-hash uniform
# noise of ±PLANT_EPS per coordinate (‖noise‖ ≈ 0.23 ≪ separation).
# Everything is integer/md5 arithmetic until one IEEE divide+multiply,
# so Spark and DuckDB build bit-identical vectors — the whole clustered
# frontier report stays oracle-exact, training included.
# ---------------------------------------------------------------------------

#: number of planted centers (fixed — cluster population scales with n)
PLANT_G = 50
#: per-coordinate noise half-width
PLANT_EPS = 0.05
#: the planted centers themselves (deterministic 6dp literals)
PLANT_CENTERS: list[list[float]] = [
    _det_vec(DIM, 5.21 + 0.917 * g, 9.0 + 2.0 * g) for g in range(PLANT_G)
]
#: clustered-corpus query: planted center 0 — its true neighbors are
#: exactly the cluster-0 members, the geometry an IVF index exploits
PLANT_QUERY: list[float] = PLANT_CENTERS[0]
#: second clustered query (r8 batch frontier): a DIFFERENT planted
#: center, so the frontier bend replicates across cluster geometries
PLANT_QUERY2: list[float] = PLANT_CENTERS[17]


def py_planted_embedding(vec_id: int) -> list[float]:
    """Python replica of the planted-corpus vector for ``vec_id`` —
    same md5/op order as the Spark and DuckDB builders (test oracle)."""
    import hashlib

    cent = PLANT_CENTERS[vec_id % PLANT_G]
    out = []
    for d in range(DIM):
        h = int(hashlib.md5(f"{vec_id}:{d}".encode()).hexdigest()[:15], 16)
        out.append(cent[d] + float(h % 2001 - 1000) / 1000.0 * PLANT_EPS)
    return out


# ---------------------------------------------------------------------------
# Spark Column builders
#
# All dots/norms/distances are zip_with + aggregate left-folds: tiny
# expression trees (fast to analyze/codegen — an explicit 64-term
# expansion costs seconds of plan compilation) with the same
# left-to-right association as the oracle's explicit sums, so results
# stay bit-identical (the fold's 0.0+t0 start only affects the sign of a
# zero, which the deterministic rounding collapses anyway).
# ---------------------------------------------------------------------------

def _lit_arr(vals: list[float]) -> Column:
    try:
        # single array literal node (Spark ≥ 3.4) — much cheaper to
        # analyze than 64 individual lit nodes wrapped in array()
        return F.lit([float(v) for v in vals])
    except Exception:  # pragma: no cover - older Spark fallback
        return F.array(*[F.lit(float(v)) for v in vals])


def _fold(prods: Column) -> Column:
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_lit(col: str, vals: list[float]) -> Column:
    """dot(embedding, literal vector) — map-only, no shuffle."""
    prods = F.zip_with(F.col(col), _lit_arr(vals), lambda x, y: x.cast("double") * y)
    return _fold(prods)


def norm_col(col: str, dim: int = DIM) -> Column:
    sq = F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_fold(sq))


def cosine_lit(col: str, vals: list[float]) -> Column:
    """cosine(embedding, literal query) — norm of the literal precomputed.

    try_divide: a zero-norm vector has undefined direction → NULL cosine
    (sorts last under DESC) instead of an ANSI DIVIDE_BY_ZERO abort; for
    every non-degenerate vector the value is identical to plain division
    (the oracle corpus contains no zero vectors, so parity holds).
    """
    qnorm = math.sqrt(py_dot(vals, vals))
    return F.try_divide(dot_lit(col, vals), norm_col(col, len(vals)) * F.lit(qnorm))


def dist2_lit(col: str, vals: list[float]) -> Column:
    """squared L2 distance to a literal vector."""
    diffs = F.zip_with(
        F.col(col), _lit_arr(vals), lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return _fold(diffs)


def lsh_bucket(col: str, planes: list[list[float]] = HYPERPLANES) -> Column:
    """Sign-LSH bucket id: bit j = [dot(e, plane_j) >= 0]."""
    bits = [
        F.when(dot_lit(col, p) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j, p in enumerate(planes)
    ]
    return reduce(lambda a, b: a + b, bits).cast("long")


def py_lsh_bucket(vec: list[float], planes: list[list[float]] = HYPERPLANES) -> int:
    return sum((1 << j) for j, p in enumerate(planes) if py_dot(vec, p) >= 0)


def dist2_cols(col_a, col_b) -> Column:
    """Squared L2 distance between two array columns (runtime dim) —
    zip_with + left-fold, same association as the SQL chain."""
    diffs = F.zip_with(
        col_a,
        col_b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return _fold(diffs)


def dot_dynamic(col_a: str, col_b: str) -> Column:
    """Runtime-dimension dot via zip_with + aggregate (the generic path)."""
    prods = F.zip_with(col_a, col_b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


# ---------------------------------------------------------------------------
# DuckDB SQL fragment builders (same literals, same association)
# ---------------------------------------------------------------------------

def _flit_sql(v: float) -> str:
    # string-cast: exact strtod double semantics (bare decimals parse as
    # DECIMAL in DuckDB — scaled-int conversion can be 1 ulp off)
    return f"CAST('{v!r}' AS DOUBLE)"


def _elem_sql(col: str, i: int) -> str:
    # duckdb lists are 1-based; cast list<float> → DOUBLE[] widens exactly
    return f"({col}::DOUBLE[])[{i + 1}]"


def dot_lit_sql(col: str, vals: list[float]) -> str:
    return "(" + " + ".join(
        f"{_elem_sql(col, i)} * {_flit_sql(v)}" for i, v in enumerate(vals)
    ) + ")"


def norm_sql(col: str, dim: int = DIM) -> str:
    terms = " + ".join(f"{_elem_sql(col, i)} * {_elem_sql(col, i)}" for i in range(dim))
    return f"sqrt({terms})"


def cosine_lit_sql(col: str, vals: list[float]) -> str:
    qnorm = math.sqrt(py_dot(vals, vals))
    return f"({dot_lit_sql(col, vals)} / ({norm_sql(col, len(vals))} * {_flit_sql(qnorm)}))"


def dist2_lit_sql(col: str, vals: list[float]) -> str:
    return "(" + " + ".join(
        f"({_elem_sql(col, i)} - {_flit_sql(v)}) * ({_elem_sql(col, i)} - {_flit_sql(v)})"
        for i, v in enumerate(vals)
    ) + ")"


def dist2_cols_sql_pre(col_a: str, col_b: str, dim: int = DIM) -> str:
    """:func:`dist2_cols_sql` for columns ALREADY typed DOUBLE[] — the
    per-element ``::DOUBLE[]`` re-cast in ``_elem_sql`` makes DuckDB
    re-cast the whole list once per extracted element (measured 112 s →
    ~5 s on the 90k-row kcell assignment at sf0.1). Identical doubles,
    identical op order."""
    return "(" + " + ".join(
        f"({col_a}[{i + 1}] - {col_b}[{i + 1}])"
        f" * ({col_a}[{i + 1}] - {col_b}[{i + 1}])"
        for i in range(dim)
    ) + ")"


def dist2_lit_sql_pre(col: str, vals: list[float]) -> str:
    """:func:`dist2_lit_sql` for a column ALREADY typed DOUBLE[] (see
    :func:`dist2_cols_sql_pre` for why the re-cast matters)."""
    return "(" + " + ".join(
        f"({col}[{i + 1}] - {_flit_sql(v)}) * ({col}[{i + 1}] - {_flit_sql(v)})"
        for i, v in enumerate(vals)
    ) + ")"


def dist2_cols_sql(col_a: str, col_b: str, dim: int = DIM) -> str:
    return "(" + " + ".join(
        f"({_elem_sql(col_a, i)} - {_elem_sql(col_b, i)})"
        f" * ({_elem_sql(col_a, i)} - {_elem_sql(col_b, i)})"
        for i in range(dim)
    ) + ")"


def cosine_cols_sql(col_a: str, col_b: str, dim: int = DIM) -> str:
    dot = " + ".join(f"{_elem_sql(col_a, i)} * {_elem_sql(col_b, i)}" for i in range(dim))
    return f"(({dot}) / ({norm_sql(col_a, dim)} * {norm_sql(col_b, dim)}))"


def lsh_bucket_sql(col: str, planes: list[list[float]] = HYPERPLANES) -> str:
    bits = " + ".join(
        f"(CASE WHEN {dot_lit_sql(col, p)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"

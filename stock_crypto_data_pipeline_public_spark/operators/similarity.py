"""Embedding similarity-search operators (brute-force + LSH-bucketed ANN).

Beyond-the-reference surface (BASELINE.json north star). The embedding column
is ``array<float>``; all math casts to double element-wise and folds
SEQUENTIALLY (left fold over the list) so Spark's ``aggregate`` and DuckDB's
``list_sum(list_transform(...))`` produce bit-identical doubles.

No UDFs: ``zip_with``/``aggregate`` are Catalyst expressions inside
whole-stage codegen. For 100 TB the layout is: normalize + bucket (sign-bit
LSH or IVF centroid id) at write time, partition by bucket, then ANN is a
per-bucket equi-join instead of the O(n²) cross join — x02 demonstrates the
bucketing; the brute-force path is retained as the exactness baseline.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scd import top_k


def dot(a: str, b: str, dim: int | None = None) -> Column:
    """Sequential-fold dot product of two array<float> columns, in double.

    With ``dim`` given (prefix width; the full vector when dim == the
    embedding width), folds over ``slice(v, 1, dim)`` with the HOF
    ``aggregate`` — the SAME left-to-right IEEE order as an unrolled
    0..dim-1 sum chain, so results are bit-identical to that chain and to
    the oracle's ``list_sum(list_transform(...))``.

    Why HOF and not an unrolled 64-term chain: the flat chain generates
    one codegen method far past the JIT's ~8 KB bytecode limit, so it
    executes in the JVM's bytecode INTERPRETER; the HOF's per-element
    lambda is a small hot loop the JIT compiles, and it constructs in a
    handful of py4j calls instead of ~500 (see OPTIMIZATION_r12.md).
    """
    if dim is not None:
        return F.expr(
            f"aggregate(zip_with(slice({a}, 1, {dim}), slice({b}, 1, {dim}), "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str, dim: int | None = None) -> Column:
    if dim is not None:
        # sliced-HOF prefix norm; same rationale and fold order as dot()
        return F.expr(
            f"sqrt(aggregate(transform(slice({a}, 1, {dim}), "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: str, b: str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / F.nullif(norm(a, dim) * norm(b, dim), F.lit(0.0))


def nearest(
    rows: DataFrame,
    cands: DataFrame,
    score: Column,
    row_id: str,
    cand_id: str,
    k: int = 1,
) -> DataFrame:
    """The IVF rule: each row of ``rows`` keeps its ``k`` best candidates of
    the broadcast table ``cands`` — ``score`` descending, a NULL score last,
    ties to the lowest ``cand_id`` (the oracles' ``ORDER BY score DESC,
    cand_id ASC``). The caller builds ``score`` from both sides' columns,
    so its doubles are the caller's own.

    Returns every column of ``rows`` plus ``cand_id`` and ``score``; with
    ``k > 1`` also ``rank`` (1..k). ``k == 1`` is one aggregation by
    ``row_id`` (payload through ``any_value``): its map-side partials ship
    one row per row id where a window would ship all of them. ``max_by``
    over ``struct(score, -cand_id)``, not ``min_by`` over
    ``struct(-score, cand_id)``: a struct orders a NULL field first, so
    only the ``max_by`` form lets a NULL score lose."""
    scored = rows.crossJoin(F.broadcast(cands)).select(
        *rows.columns, cand_id, score.alias("score")
    )
    if k > 1:
        return top_k(scored, [row_id], [F.desc("score"), F.asc(cand_id)], k, "rank")
    return scored.groupBy(row_id).agg(
        F.max_by(cand_id, F.struct("score", -F.col(cand_id))).alias(cand_id),
        *[F.any_value(c).alias(c) for c in rows.columns if c != row_id],
        F.max("score").alias("score"),
    )


def list_dot(a: list[float], b: list[float]) -> float:
    """Driver-side :func:`dot`: the same left fold over Python doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def list_norm(a: list[float]) -> float:
    """Driver-side :func:`norm`."""
    return math.sqrt(list_dot(a, a))


def nearest_ids(scores: Iterable[tuple[int, float | None]], k: int = 1) -> list[int]:
    """Driver-side :func:`nearest` over ``(cand_id, score)`` pairs: the
    ``k`` best ids, score descending, a None score last, ties to the
    lowest id."""
    ranked = sorted(scores, key=lambda p: (p[1] is None, -(p[1] or 0.0), p[0]))
    return [c for c, _ in ranked[:k]]


def l2sq_slice(vec: str, off_expr: str, cw: str, sub: int) -> Column:
    """Squared L2 distance between an inline slice of ``vec`` (elements
    ``off_expr + 0 .. off_expr + sub - 1``, 0-based) and a materialized
    subvector column ``cw`` — a flat ``sub``-term chain in the same
    left-to-right IEEE order as :func:`oracle_l2sq_slice`. Built as one
    ``F.expr`` string for the same driver-time reason as :func:`dot`."""
    terms = " + ".join(
        f"((CAST({vec}[{off_expr} + {j}] AS DOUBLE) - {cw}[{j}])"
        f" * (CAST({vec}[{off_expr} + {j}] AS DOUBLE) - {cw}[{j}]))"
        for j in range(sub)
    )
    return F.expr(f"0.0D + {terms}")


def oracle_l2sq_slice(vec: str, off_expr: str, cw: str, sub: int) -> str:
    """DuckDB twin of :func:`l2sq_slice`; ``off_expr`` is 0-based, DuckDB
    lists are 1-indexed, ``cw`` is an already-double list column."""
    terms = " + ".join(
        f"((CAST({vec}[{off_expr} + {j} + 1] AS DOUBLE) - {cw}[{j} + 1])"
        f" * (CAST({vec}[{off_expr} + {j} + 1] AS DOUBLE) - {cw}[{j} + 1]))"
        for j in range(sub)
    )
    return f"({terms})"


def oracle_dot(a: str, b: str) -> str:
    """DuckDB fragment: same sequential fold (list_sum is a left fold),
    1-indexed."""
    return (
        f"list_sum(list_transform(range(len({a})), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    )


def oracle_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def oracle_cosine(a: str, b: str) -> str:
    return f"({oracle_dot(a, b)} / nullif({oracle_norm(a)} * {oracle_norm(b)}, 0))"


def sign_bucket(col: str, dims: tuple[int, ...] = (0, 8, 16, 24)) -> Column:
    """Axis-aligned random-hyperplane LSH: concat of sign bits at fixed dims.

    0-based dims (Spark arrays are 0-indexed)."""
    bits = [
        F.when(F.col(col).getItem(d) >= 0, F.lit("1")).otherwise(F.lit("0")) for d in dims
    ]
    return F.concat(*bits)


def oracle_sign_bucket(col: str, dims: tuple[int, ...] = (0, 8, 16, 24)) -> str:
    bits = " || ".join(
        f"(CASE WHEN {col}[{d + 1}] >= 0 THEN '1' ELSE '0' END)" for d in dims
    )
    return f"({bits})"

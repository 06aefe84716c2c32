"""Vector similarity functions over array<float|double> columns.

Reference: list_cosine_similarity / list_distance / list_inner_product and
fixed-ARRAY variants (extension/core_functions/scalar/list/functions.json,
.../scalar/array/functions.json). These power the similarity-search extension
goal (SURVEY M5).

Implementation: pure Catalyst higher-order functions (zip_with + aggregate) —
JVM execution, no Python boundary, linear in vector width. Elements are cast
to double first so float32 inputs accumulate in double exactly like the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dots(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


#: Widest vector whose fixed-width sum is unrolled; wider rows take the fold.
#: Catalyst parses and analyzes the sum one tree level per term, so the JVM
#: thread stack bounds the width: in fresh sessions 640 passed and 704 raised
#: StackOverflowError (ROADMAP direction 1 width table). 256 keeps a 2.5x
#: margin, because the limit moves with JIT state and stack size.
MAX_UNROLL_DIM = 256


def _sql_ref(c: Column) -> str | None:
    """Backtick-quoted SQL text of a plain column reference such as
    ``F.col("v")``; None for any other expression (or a reference bound to
    one DataFrame), which the text build cannot name."""
    node = c._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute" or node.planId().isDefined():
        return None
    parts = node.nameParts()
    return ".".join("`" + parts.apply(i).replace("`", "``") + "`" for i in range(parts.size()))


def _unrolled_dot(a: str, b: str, dim: int) -> Column:
    """``CASE WHEN size(a) = dim THEN 0.0 + a[0]*b[0] + ... ELSE <fold> END``
    over two quoted column references, as ONE expression parsed from SQL
    text (a Column-built sum costs several Py4J commands per term). The
    same double products are added left to right from the same 0.0 seed as
    the fold, so values are bit-identical to it; rows of another width, and
    null arrays (whose guard is null), take the fold itself."""
    guard = " AND ".join(f"size({op}) = {dim}" for op in dict.fromkeys((a, b)))
    terms = "".join(
        f" + CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE)" for i in range(dim)
    )
    fold = (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (s, v) -> s + v)"
    )
    return F.expr(f"CASE WHEN {guard} THEN 0.0D{terms} ELSE {fold} END")


def _unroll_refs(dim: int | None, *cols: Column) -> list[str] | None:
    """The operands' SQL references when a ``dim`` hint can unroll them."""
    if dim is None or not 0 < dim <= MAX_UNROLL_DIM:
        return None
    refs = [_sql_ref(c) for c in cols]
    return None if None in refs else refs


def dot_product(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product; with a ``dim`` hint (at most :data:`MAX_UNROLL_DIM`,
    both operands plain column references) rows of exactly that width take
    an unrolled sum, bit-identical to the higher-order fold, whose
    interpreted lambda walk (zip_with/aggregate are CodegenFallback) costs
    O(dim) per pair.

    The unrolled sum is fast only under one condition: the fold in its ELSE
    branch is CodegenFallback too, so CollapseCodegenStages keeps the
    Project out of whole-stage codegen and per-expression codegen splits
    the long sum into small methods. Over 319,600 pairs at dim 64 (4
    cores, warm) it ran 0.72-0.81 s with the ELSE, 5.2 s whole-stage
    compiled without it, 1.4-1.6 s as the fold alone;
    ``tests/test_plans.py`` pins the Project outside whole-stage codegen."""
    refs = _unroll_refs(dim, a, b)
    return _dots(a, b) if refs is None else _unrolled_dot(*refs, dim)


def array_inner_product(a: Column, b: Column) -> Column:
    """Dot product (reference list_inner_product)."""
    return _dots(a, b)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def row_norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm; with a ``dim`` hint the sum of squares unrolls exactly like
    :func:`dot_product` (same products, same fold order: bit-identical)."""
    refs = _unroll_refs(dim, a)
    return _norm(a) if refs is None else F.sqrt(_unrolled_dot(refs[0], refs[0], dim))


def cosine_from_norms(
    v1: Column, v2: Column, n1: Column, n2: Column, dim: int | None = None
) -> Column:
    """Cosine of a pair whose per-row norms were hoisted below the join:
    the one spelling of dots/(n1*n2), the operation order that keeps it
    bit-identical to the oracle's list_cosine_similarity."""
    return dot_product(v1, v2, dim) / (n1 * n2)


def evaluate_once(c: Column) -> Column:
    """Identity wrapper that marks ``c`` non-deterministic so the optimizer
    cannot substitute it into filters/join conditions (the JVM-side analogue
    of guide §4.4's ``udf.asNondeterministic()``).

    Without it PushDownPredicates alias-substitutes a threshold filter over
    an expensive projected column (the unrolled per-pair cosine) INTO the
    join condition, where GeneratePredicate compiles it without expression
    splitting and the output projection evaluates it again.
    ``element_at(shuffle(array(c)), 1)`` is exactly ``c`` (nulls included)
    and keeps the filter above one split-friendly projection: 10.9 s (fold,
    pushed) -> 3.3 s (unrolled behind this barrier) per 1.3M pairs in one
    task. Non-determinism also blocks legitimate pushdown of other
    predicates, so use it only on expensive expressions."""
    return F.element_at(F.shuffle(F.array(c)), F.lit(1))


def array_cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity (reference list_cosine_similarity)."""
    return _dots(a, b) / (_norm(a) * _norm(b))


def array_distance(a: Column, b: Column) -> Column:
    """Euclidean distance (reference list_distance)."""
    diff2 = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))

"""Vector math as native Spark column expressions (JVM-side, no UDFs).

Re-expresses the reference's cosine/mean-pool math
(SemanticChunker.cs:290-345, PgVectorStore.cs:262-266) as Catalyst
expressions over ``array<double>`` columns. Keeping this out of Python
means whole-stage codegen covers the scoring loop — at 100 TB the
similarity scan is compute-bound and must stay JVM-side.

Determinism note: ``dot_expr`` is a *left fold* over the zipped products, so
the floating-point summation order is fixed regardless of partitioning
(the array lives in one row; no cross-row reduction is involved). The DuckDB
oracle mirrors the same fold via ``list_reduce``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once per row and hand the bound value to ``fn``
    as a lambda variable (one-element ``transform``): Catalyst HOFs run
    interpreted with no subexpression elimination, so a subtree
    referenced twice is evaluated twice unless bound this way.
    :func:`spark_sql_bind` is the same shape as Spark-SQL text."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero magnitude
    (reference: SemanticChunker.cs:322-345).

    Arrays and norms are BOUND once (r11): the ``when`` references each
    norm in both its condition and its value branch, so the unbound form
    ran each O(d) norm fold twice — five interpreted array folds per row
    where three suffice (and input EXPRESSIONS re-evaluated inside every
    fold). Measured 1.33-1.38x on a 400k-row × d=64 scoring scan,
    bit-identical output (same folds, same order, each value computed
    once instead of twice)."""

    def _with_arrays(aa: Column, bb: Column) -> Column:
        return bind_once(
            F.sqrt(dot_expr(aa, aa)),
            lambda na: bind_once(
                F.sqrt(dot_expr(bb, bb)),
                lambda nb: F.when(
                    (na > F.lit(0.0)) & (nb > F.lit(0.0)),
                    dot_expr(aa, bb) / (na * nb),
                ).otherwise(F.lit(0.0)),
            ),
        )

    return bind_once(a, lambda aa: bind_once(b, lambda bb: _with_arrays(aa, bb)))


def paired_cosine_expr(na: Column, nb: Column, a: Column, b: Column) -> Column:
    """Cosine from pre-materialized per-row norms: dot/(na·nb), 0.0 on zero
    magnitude — the same FP operation order as cosine_expr, so the DuckDB
    mirrors are unchanged. Computing norms once per ROW (before the join)
    instead of per PAIR is the difference between O(n²·d) and O(n·d) norm
    work in any pairwise kernel; the join boundary stops Catalyst's
    CollapseProject from inlining them back into the pair stage."""
    return F.when(
        (na > F.lit(0.0)) & (nb > F.lit(0.0)), dot_expr(a, b) / (na * nb)
    ).otherwise(F.lit(0.0))


def py_l2norm(vals) -> float:
    """Driver-side L2 norm in the EXACT fold order of :func:`l2norm_expr`:
    products accumulated left-to-right from a 0.0 seed, then sqrt. Python
    floats are IEEE doubles, so for a literal query vector this produces
    the same bits the Catalyst fold would — which is what lets a scan
    against a Python-literal query skip the per-row query-norm fold."""
    acc = 0.0
    for v in vals:
        v = float(v)
        acc = acc + v * v
    return math.sqrt(acc)


def cosine_to_query_sql(vec: str, query_vec, norm_col: str | None = None) -> str:
    """Spark-SQL text of the cosine of a row vector against a
    PYTHON-LITERAL query vector.

    ``vec`` (and ``norm_col``) are Spark-SQL expression text over the
    frame, e.g. ``spark_sql_double_array("embedding")``; the whole score —
    query literal array, bound folds, CASE — enters the plan through ONE
    ``F.expr``/``selectExpr``, so building it costs one Python→JVM round
    trip instead of one per literal and per fold node.

    ``cosine_expr(row, q_literal)`` pays three O(d) folds per row — the
    query's own norm is a fold over a literal array that Catalyst does NOT
    constant-fold (HOFs run interpreted). Here the query norm folds
    driver-side via :func:`py_l2norm` (identical FP order → identical
    double) and lands as a scalar literal, so the scan pays two folds per
    row; pass ``norm_col`` (a pre-materialized row-norm column) to share
    the row's norm across a batch of queries — 1 + n_q folds per row
    instead of 3·n_q. Operand order matches cosine_expr(a=row, b=query):
    condition (norm_row > 0) AND (norm_q > 0), denominator norm_row·norm_q
    — so scores are bit-identical and the DuckDB mirrors are unchanged."""
    qn = spark_sql_literal(py_l2norm(query_vec))
    qarr = spark_sql_double_array_literal(query_vec)

    def _score(row: str, norm: str) -> str:
        return (
            f"CASE WHEN ({norm} > 0.0D) AND ({qn} > 0.0D) "
            f"THEN {spark_sql_dot(row, qarr)} / ({norm} * {qn}) ELSE 0.0D END"
        )

    if norm_col is not None:
        return _score(vec, norm_col)
    norm = f"sqrt({spark_sql_dot('_cv', '_cv')})"
    return spark_sql_bind(vec, "_cv", spark_sql_bind(norm, "_cn", _score("_cv", "_cn")))


# ---------------------------------------------------------------------------
# Spark-SQL expression text — per-query literals enter a plan as one F.expr
# ---------------------------------------------------------------------------


def spark_sql_literal(v) -> str:
    """Spark-SQL literal text for a Python scalar, typed as ``F.lit`` types
    it: a float becomes a DOUBLE literal written ``repr(x)+"D"`` (repr is the
    shortest string that round-trips, so the parsed double has the same
    bits), NaN/±inf become a cast from their string names, a str is quoted
    with ``\\`` and ``'`` escaped, an int stays an INT/BIGINT literal, a
    bool is TRUE/FALSE. Negative numbers are parenthesized so the text can
    follow a binary minus."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        x = float(v)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
        s = repr(x) + "D"
        return f"({s})" if math.copysign(1.0, x) < 0 else s
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no Spark-SQL literal for {type(v).__name__}")


def spark_sql_values(values) -> str:
    """Comma-separated literals, e.g. for an ``IN (…)`` list."""
    return ", ".join(spark_sql_literal(v) for v in values)


def spark_sql_double_array_literal(values) -> str:
    """One array<double> constant as Spark-SQL text: a JSON string that
    ``from_json`` parses and the optimizer folds to a literal. Analyzing one
    string literal costs far less than ``array(...)`` of d literal children
    (the bulk of a query vector's plan time). Numbers are written with
    repr, the shortest string that round-trips, so the folded doubles have
    the same bits; NaN/±inf use the JSON reader's non-numeric tokens."""

    def _num(v) -> str:
        x = float(v)
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Infinity" if x > 0 else "-Infinity"
        return repr(x)

    text = "[" + ",".join(_num(v) for v in values) + "]"
    return f"from_json({spark_sql_literal(text)}, 'array<double>')"


def spark_sql_bind(expr: str, var: str, body: str) -> str:
    """:func:`bind_once` as Spark-SQL text: ``body`` sees ``expr``,
    evaluated once per row, as the lambda variable ``var``."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def spark_sql_dot(a: str, b: str) -> str:
    """:func:`dot_expr` as Spark-SQL text — the same left fold."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"


def spark_sql_double_array(col: str) -> str:
    """:func:`to_double_array` of column ``col`` as Spark-SQL text."""
    return f"transform(`{col}`, x -> CAST(x AS DOUBLE))"


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL mirrors (same operation order → bit-identical doubles)
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str) -> str:
    # list_reduce is a left fold like F.aggregate; seed folded via 0.0 prefix.
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN {sql_norm(a)} > 0.0 AND {sql_norm(b)} > 0.0 "
        f"THEN {sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}) ELSE 0.0 END"
    )


def l2sq_expr(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance Σ(aᵢ-bᵢ)² of two array<double>
    columns — the distance kernel product quantization minimizes."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_l2sq(a: str, b: str) -> str:
    """DuckDB mirror of :func:`l2sq_expr` — same left-fold order, so the
    doubles are bit-identical."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, len({a}) + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, v) -> acc + v)"
    )


# ---------------------------------------------------------------------------
# Scalar digest of an array column — for harnesses that canonicalize every
# output column with a sort and therefore can't handle list cells. The five
# scalars (dim / left-fold sum / l2 norm / min / max) pin the array's values
# without string-formatting floats (printf rounding differs across engines);
# both sides use the same fold order, so the doubles are bit-identical.
# ---------------------------------------------------------------------------


def array_digest_cols(arr: Column, prefix: str) -> list[Column]:
    return [
        F.size(arr).cast("long").alias(f"{prefix}_dim"),
        F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v).alias(f"{prefix}_sum"),
        l2norm_expr(arr).alias(f"{prefix}_norm"),
        F.array_min(arr).alias(f"{prefix}_min"),
        F.array_max(arr).alias(f"{prefix}_max"),
    ]


def sql_array_digest(c: str, prefix: str) -> str:
    """DuckDB projection fragment mirroring :func:`array_digest_cols`."""
    return (
        f"len({c}) AS {prefix}_dim, "
        f"list_reduce(list_prepend(0.0, {c}), (acc, v) -> acc + v) AS {prefix}_sum, "
        f"{sql_norm(c)} AS {prefix}_norm, "
        f"list_min({c}) AS {prefix}_min, "
        f"list_max({c}) AS {prefix}_max"
    )


# ---------------------------------------------------------------------------
# Scalar (int8) quantization — 4x index memory at equal plan shapes
# ---------------------------------------------------------------------------


def quantize_expr(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127, code =
    round(x / scale) ∈ [-127, 127] (scale 0 → all-zero codes). Stored as
    array<int> codes + one double scale; a 64-dim float64 row shrinks 4×+
    (codes pack to bytes on parquet). Map-side HOFs; the distance math
    stays JVM-side via dequantize_expr."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    codes = F.when(
        amax > 0.0,
        F.transform(vec, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_expr(q: Column) -> Column:
    """codes · scale → approximate vector (exact arithmetic both engines)."""
    return F.transform(q["codes"], lambda c: c * q["scale"])


def sql_quantize_scale(vec: str) -> str:
    return f"(list_max(list_transform({vec}, x -> abs(x))) / 127.0)"


def sql_quantize_codes(vec: str) -> str:
    scale = sql_quantize_scale(vec)
    return (
        f"CASE WHEN list_max(list_transform({vec}, x -> abs(x))) > 0.0 "
        f"THEN list_transform({vec}, x -> CAST(round(x / {scale}) AS INT)) "
        f"ELSE list_transform({vec}, x -> 0) END"
    )

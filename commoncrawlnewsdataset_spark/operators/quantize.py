"""Embedding quantization (V2/V3) + calibration aggregate (A6).

Reference: 09_embedding_transformation.py:15-21 —
- calibration ranges = per-dimension min/max over the whole corpus,
- int8  = affine map onto [-128, 127] with those ranges
  (sentence_transformers.quantize_embeddings precision='int8':
  ((x - min) / (max - min) * 255 - 128), cast trunc-toward-zero),
- binary = sign bit per dim, packed 8 dims/byte (np.packbits, MSB-first).

All column-expression math (JVM-side).  The calibration aggregate is a single
pass: posexplode -> groupBy(dim) -> min/max -> collected to a literal array
(one tiny driver collect of `dim` rows — not a data collect)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def calibration_ranges(emb: DataFrame, vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """A6: per-dimension (min, max) over all vectors. One shuffle on `dim`
    (dim rows out — negligible); at 10^9 vectors the partial min/max per
    partition makes this map-side cheap."""
    agg = (
        emb.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    return [r["lo"] for r in agg], [r["hi"] for r in agg]


def quantize_int8(vec: Column, lo: list[float], hi: list[float]) -> Column:
    """V2: per-dim affine quantization with global calibration ranges.
    Matches sentence_transformers quantize_embeddings(precision='int8'):
    trunc-toward-zero cast, which is exactly Spark's double->int cast."""
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    hi_a = F.array(*[F.lit(float(x)) for x in hi])
    steps = F.zip_with(hi_a, lo_a, lambda h, l: h - l)
    scaled = F.zip_with(vec.cast("array<double>"), lo_a, lambda x, l: x - l)
    return F.zip_with(
        scaled, steps, lambda d, s: F.when(s != 0, (d / s * 255.0 - 128.0)).otherwise(F.lit(-128.0)).cast("int")
    )


def quantize_binary_bits(vec: Column) -> Column:
    """V3 (bit view): 1 where dim > 0 else 0 (np.packbits(e > 0) semantics
    before packing)."""
    return F.transform(vec, lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)))


def pack_binary_bytes(vec: Column) -> Column:
    """V3 (packed view): MSB-first 8-bit packing -> array<int> of bytes,
    dim/8 entries — the 1024-d -> 128-byte layout of the reference's binary
    index (10_vector_database.py:19)."""
    bits = quantize_binary_bits(vec)
    # dim % 8 == 0 assumed (1024 in the reference, 64 in testdata); packbits'
    # zero-padding of a ragged tail would need an array_append of the remainder
    n_bytes = F.floor(F.size(bits) / 8).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_bytes - 1),
        lambda i: F.aggregate(
            F.slice(bits, i * 8 + 1, 8),
            F.lit(0),
            lambda acc, b: acc * 2 + b,
        ),
    )

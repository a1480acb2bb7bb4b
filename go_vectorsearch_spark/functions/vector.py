"""Columnar vector kernels (SURVEY.md §2.7, V1-V5).

All of these are native Catalyst expressions over ``array<float>`` /
``array<double>`` columns - no Python UDFs - so they stay inside
whole-stage codegen and scale with the JVM. The reference implements
the same math as hand-rolled Go loops / BLAS calls
(reference: compute/cosine.go:13-149, compute/quantization.go:8-216);
here each kernel is an expression tree the optimizer can inline, push
through projects, and fuse.

Quantization semantics reproduced exactly (SURVEY.md §1.3):

* ``quantize(v, lo, hi) = uint8(((clamp(v) - lo) / (hi - lo)) * 255)``
  with *truncation*, not rounding (compute/quantization.go:8-19).
* The per-vector range always includes 0: the reference's min/max
  accumulators start at 0 (compute/quantization.go:182-192).
* ``dequantize(q, lo, hi) = lo + (q / 255) * (hi - lo)``
  (compute/quantization.go:47-53).
* lo/hi are float32 even for float64 input (compute/quantization.go:96-97).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Cast array<float> -> array<double> for numerically-stable math."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array columns (double).

    Equivalent of the reference's per-row Ddot (compute/cosine_gonum.go:25-37)
    as a codegen'd expression: zip_with multiply then left-fold sum, so the
    summation order is deterministic (index order) on any cluster.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(vec: Column) -> Column:
    """||v||_2 as a double scalar."""
    return F.sqrt(dot(vec, vec))


def l2_normalize(vec: Column) -> Column:
    """V1: v / ||v||_2, zero-safe (reference: compute/cosine.go:138-149).

    A zero vector normalizes to itself (all zeros), matching the
    reference's guard against division by zero.
    """
    norm = l2_norm(vec)
    return F.when(norm == 0.0, as_double(vec)).otherwise(
        F.transform(vec, lambda x: x.cast("double") / norm)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """V2: cosine similarity of two array columns, zero-safe -> 0.0.

    dot(a, b) / (||a|| * ||b||); the reference normalizes both sides then
    dots (compute/cosine.go:13-57) - algebraically identical.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def vector_range(vec: Column) -> tuple[Column, Column]:
    """A4: per-vector (lo, hi) quantization range, 0-anchored.

    The reference's accumulators start at 0 so the stored range always
    satisfies lo <= 0 <= hi (compute/quantization.go:182-192), and the
    bounds are narrowed to float32 (compute/quantization.go:96-97).
    Returns (lo, hi) as FloatType columns.
    """
    lo = F.least(F.array_min(vec), F.lit(0).cast("float")).cast("float")
    hi = F.greatest(F.array_max(vec), F.lit(0).cast("float")).cast("float")
    return lo, hi


def quantize(vec: Column, lo: Column, hi: Column, precision: str = "float32") -> Column:
    """V4: scalar-quantize array<float> -> array<int> of 0..255 codes.

    Exact reference semantics (compute/quantization.go:8-19):
    clamp to [lo, hi], affine-map to [0, 255], then *truncate* toward
    zero (Go's uint8() conversion), never round. A degenerate range
    (hi == lo, only possible for the all-zero vector given the
    0-anchored range) quantizes to 0.

    precision="float32" (default) runs the arithmetic in single
    precision exactly like the reference's f32 path; "float64" runs it
    in double so results are reproducible by engines without f32
    arithmetic (the DuckDB oracle). The two differ on ~0.4% of codes
    (values that straddle an integer boundary between precisions).

    Codes are kept as IntegerType 0..255 (Spark's TINYINT is signed);
    the storage win comes from parquet dictionary/byte packing + zstd.
    """
    ft = "float" if precision == "float32" else "double"
    span = (hi.cast(ft) - lo.cast(ft)).cast(ft)
    scale = F.lit(255).cast(ft)

    def q(x: Column) -> Column:
        clamped = F.least(F.greatest(x.cast(ft), lo.cast(ft)), hi.cast(ft)).cast(ft)
        scaled = ((clamped - lo.cast(ft)).cast(ft) / span).cast(ft) * scale
        return F.floor(scaled.cast("double")).cast("int")

    return F.when(span == F.lit(0).cast(ft), F.transform(vec, lambda x: F.lit(0))).otherwise(
        F.transform(vec, q)
    )


def dequantize(qvec: Column, lo: Column, hi: Column, precision: str = "float32") -> Column:
    """V5: inverse map, array<int> codes -> array of floats.

    lo + (q / 255) * (hi - lo) (compute/quantization.go:47-53), in the
    chosen precision (see ``quantize``).
    """
    ft = "float" if precision == "float32" else "double"
    span = (hi.cast(ft) - lo.cast(ft)).cast(ft)
    scale = F.lit(255).cast(ft)
    return F.transform(
        qvec,
        lambda q: (lo.cast(ft) + (q.cast(ft) / scale).cast(ft) * span).cast(ft),
    )


def dequantize_array(codes, lo, hi) -> np.ndarray:
    """:func:`dequantize` (float32) on the driver, step for step, so
    the vectors equal Spark's bit for bit: ``codes`` is (rows, dims),
    ``lo``/``hi`` are (rows,)."""
    lo = np.asarray(lo, dtype=np.float32)[:, None]
    span = np.asarray(hi, dtype=np.float32)[:, None] - lo
    return lo + np.asarray(codes, dtype=np.float32) / np.float32(255.0) * span


def fold_sum(terms):
    """Sum equal-shape float64 arrays in order, starting from 0.0: the
    sequential fold :func:`dot`'s ``F.aggregate`` runs, bit for bit
    (``@``, ``sum`` and ``np.sum`` add in another order)."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def columns_f64(vecs) -> np.ndarray:
    """(rows, dims) vectors as a (dims, rows) float64 matrix, one
    contiguous array per dimension: the layout the driver folds run
    on, so a fold over the dimensions is ``dims`` vector adds."""
    return np.ascontiguousarray(np.asarray(vecs, dtype=np.float64).T)


def norm_columns(cols) -> np.ndarray:
    """:func:`l2_norm` of each vector of a :func:`columns_f64` matrix."""
    return np.sqrt(fold_sum(c * c for c in cols))


def cosine_columns(cols, norms, q) -> np.ndarray:
    """:func:`cosine_similarity` of each vector of a :func:`columns_f64`
    matrix, whose :func:`norm_columns` are ``norms``, with ``q``. A
    caller scoring several queries against one read folds the norms
    once."""
    q = np.asarray(q, dtype=np.float64)
    denom = norms * np.sqrt(fold_sum(x * x for x in q))
    dots = fold_sum(c * x for c, x in zip(cols, q))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, dots / denom)


def cosine_array(vecs, q) -> np.ndarray:
    """:func:`cosine_similarity` of each row of ``vecs`` with ``q`` on
    the driver, bit for bit: products in float64 and every sum a
    :func:`fold_sum`."""
    cols = columns_f64(vecs)
    return cosine_columns(cols, norm_columns(cols), q)


# ---------------------------------------------------------------------------
# Binary wire/storage codec - bit-exact parity with the reference's
# []byte vector layout: [min float32 LE (4B)][max float32 LE (4B)][D x uint8]
# (compute/quantization.go:71-80; dims = len(bytes) - 8, ai/aicomms/embed.go:52-54).
# float32 bit-twiddling has no Catalyst expression, so the codec is an
# Arrow-batched pandas UDF - an ingest/egress boundary, not a query path:
# inside the engine vectors live as array<float> / code arrays.
# ---------------------------------------------------------------------------


def pack_vector_udf():
    """array<float> -> binary in the reference layout (quantizing in f32
    with truncation, 0-anchored range - §1.3 semantics, so the produced
    bytes are what the reference would store for the same floats)."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def pack(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            x = np.asarray(v, dtype=np.float32)
            lo = np.float32(min(x.min(), np.float32(0.0))) if len(x) else np.float32(0)
            hi = np.float32(max(x.max(), np.float32(0.0))) if len(x) else np.float32(0)
            if hi - lo == 0:
                codes = np.zeros(len(x), dtype=np.uint8)
            else:
                clamped = np.clip(x, lo, hi).astype(np.float32)
                scaled = (
                    (clamped - lo).astype(np.float32)
                    / np.float32(hi - lo)
                    * np.float32(255)
                ).astype(np.float32)
                codes = np.trunc(scaled).astype(np.uint8)
            out.append(
                np.float32(lo).tobytes() + np.float32(hi).tobytes() + codes.tobytes()
            )
        return pd.Series(out)

    return pack


def unpack_vector_udf():
    """binary (reference layout) -> struct<lo float, hi float,
    codes array<int>, vec array<float>> with vec dequantized in f32."""
    schema = "lo float, hi float, codes array<int>, vec array<float>"

    @F.pandas_udf(schema)
    def unpack(bins: pd.Series) -> pd.DataFrame:
        los, his, codes_l, vecs = [], [], [], []
        for b in bins:
            lo = np.frombuffer(b[0:4], dtype="<f4")[0]
            hi = np.frombuffer(b[4:8], dtype="<f4")[0]
            codes = np.frombuffer(b[8:], dtype=np.uint8)
            vec = (
                np.float32(lo)
                + (codes.astype(np.float32) / np.float32(255)).astype(np.float32)
                * np.float32(hi - lo)
            ).astype(np.float32)
            los.append(float(lo))
            his.append(float(hi))
            codes_l.append([int(c) for c in codes])
            vecs.append([float(x) for x in vec])
        return pd.DataFrame({"lo": los, "hi": his, "codes": codes_l, "vec": vecs})

    return unpack


def vector_mean(df, key_cols: list[str], vec_col: str, out_col: str = "mean_vec"):
    """A3: per-group elementwise mean of an array column.

    posexplode -> groupBy(key, pos).avg -> re-assemble ordered by pos.
    Scales because the explode feeds a partially-aggregated (map-side
    combine) shuffle of only |groups| x dim rows, never the raw data
    (reference equivalent: dnc/dnc.go:416-455 accumulates sums in RAM).
    """
    exploded = df.select(*key_cols, F.posexplode(F.col(vec_col)).alias("pos", "val"))
    per_pos = exploded.groupBy(*key_cols, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("val")
    )
    assembled = per_pos.groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))), lambda s: s["val"]
        ).alias(out_col)
    )
    return assembled

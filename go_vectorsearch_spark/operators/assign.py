"""Nearest-centroid assignment (SURVEY.md §2.3 J5, §2.4 A5, §2.7 V3).

The reference computes B·Aᵀ with BLAS Dgemm and takes a per-row argmax
(compute/cosine.go:70-125, cosine_gonum.go:60-116) to assign every
vector to its nearest centroid. Tie-breaking: the reference keeps the
FIRST maximum (strict ``>``, compute/cosine.go:113-117), i.e. the
lowest centroid index wins ties.

Two physical strategies, chosen by centroid count:

* ``expr``  - the centroid table collapses into one broadcast
  array-of-structs literal; per-row cosine argmax runs as codegen'd
  transform/array_max expressions. Zero shuffle, zero Python. Best for
  small k where JVM expression evaluation beats Arrow transfer.
* ``gemm``  - mapInPandas: each Arrow batch becomes an (n x d) numpy
  matrix multiplied against the broadcast (k x d) centroid matrix -
  one BLAS GEMM per batch, the literal Spark translation of the
  reference's Dgemm path. Best for larger k (the 100 TB design point:
  per-row cost is k*d multiply-adds either way, but GEMM runs at
  memory bandwidth while expression eval is interpreted per element).

Both are narrow (no shuffle): assignment cost scales linearly with
rows and is embarrassingly parallel across partitions.

Rows already on the driver (an upload's chunks) take
:func:`nearest_ids`, which picks the strategy the same way and runs
each one's numpy twin: the GEMM body itself, or the expression path's
sequential folds, so a row lands in the centroid the Spark path picks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_vectorsearch_spark.functions.vector import (
    columns_f64,
    dot,
    fold_sum,
    l2_normalize,
    norm_columns,
)

# Centroid count at which the GEMM path takes over. Low on purpose: the
# expression path embeds k x dim float literals into codegen (compile
# time grows with the tree), so it only wins for single-digit k.
GEMM_THRESHOLD = 8


def assign_nearest(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    out_col: str = "assigned_id",
    sim_col: str | None = None,
    method: str = "auto",
) -> DataFrame:
    """Assign each row to its nearest centroid by cosine similarity.

    Ties keep the smallest centroid id (reference first-max semantics).
    ``method``: "expr" | "gemm" | "auto" (auto picks by centroid count).
    """
    cents = [
        (int(r[centroid_id_col]), np.asarray(r[centroid_vec_col], dtype=np.float64))
        for r in centroids.select(centroid_id_col, centroid_vec_col).collect()
    ]
    return assign_nearest_mat(df, cents, vec_col, out_col, sim_col, method)


def assign_nearest_mat(
    df: DataFrame,
    cents: list[tuple[int, np.ndarray]],
    vec_col: str = "embedding",
    out_col: str = "assigned_id",
    sim_col: str | None = None,
    method: str = "auto",
) -> DataFrame:
    """``assign_nearest`` for centroids already on the driver as
    (id, vector) pairs — the k-means fit produces exactly this, so
    callers like ``build_index`` skip a createDataFrame→collect
    round-trip of data that never left the driver."""
    cents, method = _resolve(cents, method)
    if method == "gemm":
        return _assign_gemm(df, cents, vec_col, out_col, sim_col)
    return _assign_expr(df, cents, vec_col, out_col, sim_col)


def _resolve(
    cents: list[tuple[int, np.ndarray]], method: str
) -> tuple[list[tuple[int, np.ndarray]], str]:
    """Centroids in ascending id order (argmax first-hit = lowest id)
    and the strategy ``auto`` picks by their count."""
    if not cents:
        raise ValueError("assign_nearest: empty centroid set")
    if method == "auto":
        method = "gemm" if len(cents) >= GEMM_THRESHOLD else "expr"
    return sorted(cents, key=lambda t: t[0]), method


def _assign_expr(
    df: DataFrame,
    cents: list[tuple[int, np.ndarray]],
    vec_col: str,
    out_col: str,
    sim_col: str | None,
) -> DataFrame:
    """Codegen'd path: pre-normalized centroid literals, one dot per
    (row, centroid), array_max over (sim, -id) structs."""
    normed = _expr_normed(cents)

    # F.lit(list) makes each centroid vector a single array Literal —
    # the F.array(*[lit per dim]) form was a CreateArray with k x d
    # literal children re-evaluated per row (same codegen-tree collapse
    # as dedup._signature_from_hashes / plans/lsh.lsh_bucket)
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                F.lit([float(x) for x in v]).alias("cvec"),
            )
            for cid, v in normed
        ]
    )

    vn = l2_normalize(F.col(vec_col))
    tmp = df.withColumn("_vn", vn).withColumn("_cents", cent_arr)
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            dot(F.col("_vn"), c["cvec"]).alias("sim"),
            (-c["cid"]).alias("negid"),
        ),
    )
    best = F.array_max(scored)
    out = tmp.withColumn("_best", best).drop("_vn", "_cents")
    result = out.withColumn(out_col, -F.col("_best")["negid"])
    if sim_col is not None:
        result = result.withColumn(sim_col, F.col("_best")["sim"])
    return result.drop("_best")


def _assign_gemm(
    df: DataFrame,
    cents: list[tuple[int, np.ndarray]],
    vec_col: str,
    out_col: str,
    sim_col: str | None,
) -> DataFrame:
    """Arrow-batch GEMM path (reference Dgemm analog,
    compute/cosine_gonum.go:60-116): :func:`nearest_gemm` per batch."""
    ids, C = _gemm_normed(cents)

    out_fields = df.schema.fields + [T.StructField(out_col, T.LongType())]
    if sim_col is not None:
        out_fields = out_fields + [T.StructField(sim_col, T.DoubleType())]
    out_schema = T.StructType(out_fields)
    in_cols = [f.name for f in df.schema.fields]

    def assign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arg, sims = nearest_gemm(np.vstack(pdf[vec_col].to_numpy()), C)
            res = pdf[in_cols].copy()
            res[out_col] = ids[arg]
            if sim_col is not None:
                res[sim_col] = sims
            yield res

    return df.mapInPandas(assign_batches, schema=out_schema)


def _expr_normed(cents: list[tuple[int, np.ndarray]]) -> list[tuple[int, np.ndarray]]:
    """The expression path's unit centroids, a zero centroid kept as is."""
    normed = []
    for cid, v in cents:
        n = np.linalg.norm(v)
        normed.append((cid, v / n if n > 0 else v))
    return normed


def _gemm_normed(cents: list[tuple[int, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """The GEMM path's (ids, row-normalized (k x d) centroid matrix)."""
    ids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.vstack([v for _, v in cents])
    Cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn[Cn == 0] = 1.0
    return ids, C / Cn


def nearest_gemm(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise cosine argmax of the (n x d) rows ``X`` against the
    row-normalized centroids ``C``: X_norm @ Cᵀ, one BLAS GEMM. Returns
    (index into C, its similarity) per row; numpy argmax keeps the first
    (lowest-id) max, and a zero row scores 0 (V2 guard)."""
    X = np.asarray(X, dtype=np.float64)
    Xn = np.linalg.norm(X, axis=1, keepdims=True)
    zero = Xn[:, 0] == 0
    Xn[zero] = 1.0
    sims = (X / Xn) @ C.T
    sims[zero] = 0.0
    arg = sims.argmax(axis=1)
    return arg, sims[np.arange(len(arg)), arg]


def nearest_fold(X: np.ndarray, cents: list[tuple[int, np.ndarray]]) -> np.ndarray:
    """:func:`_assign_expr` on the driver, bit for bit: each row
    l2-normalized and dotted with each unit centroid as sequential
    folds (functions.vector's driver twins of ``dot``), the max
    similarity winning with ties to the lowest id. Returns the index
    into ``cents`` (sorted by id) per row."""
    cols = columns_f64(X)
    norms = norm_columns(cols)
    with np.errstate(divide="ignore", invalid="ignore"):
        unit = np.where(norms == 0.0, cols, cols / norms)
    sims = np.stack([
        fold_sum(u * x for u, x in zip(unit, np.asarray(v, dtype=np.float64)))
        for _, v in _expr_normed(cents)
    ], axis=1)
    return sims.argmax(axis=1)


def nearest_ids(
    X: np.ndarray, cents: list[tuple[int, np.ndarray]], method: str = "auto"
) -> np.ndarray:
    """:func:`assign_nearest_mat` for (n x d) vectors already on the
    driver: the id of each row's nearest centroid, chosen as the Spark
    path of the same ``method`` chooses it."""
    cents, method = _resolve(cents, method)
    if method == "gemm":
        ids, C = _gemm_normed(cents)
        return ids[nearest_gemm(X, C)[0]]
    return np.array([c for c, _ in cents], dtype=np.int64)[nearest_fold(X, cents)]

"""Vector search operators (SURVEY.md §2.3 J4/J5, §2.5 T1/T2).

The reference's search path (server/search.go:115-334) is: embed the
query, cosine-score every embedding in the probed partitions in
1000-row batches, keep a deduped top-k by document. In Spark the same
semantics are one declarative plan:

    score every row with a codegen'd dot-product expression against a
    *literal* query vector (no join, no shuffle - the query vector is
    folded into the expression), then groupBy(document).max(score),
    then a global top-k (orderBy + limit, which Spark executes as
    per-partition partial top-k + single merge, i.e. TakeOrdered - no
    full sort at 100 TB).

The reference's batch-incremental truncation (server/search.go:234-273)
is order-dependent in edge cases; we implement the clean set semantics
(max similarity per document) as SURVEY.md §5 prescribes.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_vectorsearch_spark.functions.vector import cosine_similarity


def query_vec_lit(query_vec: Sequence[float]) -> Column:
    """Embed a driver-side query vector into the plan as an array literal.

    This is the Spark analogue of broadcasting the query: the vector
    becomes a constant in the codegen'd expression, shipped once with
    the task binary - strictly cheaper than a broadcast join.

    The Column is ONE array<double> Literal node. ``F.lit(list)``
    builds ``array(lit(x), ...)``, one py4j call per element, and
    ``F.lit(ndarray)`` fills a Java array element by element; here the
    vector crosses py4j as one big-endian byte string that a
    DoubleBuffer decodes into the Java array, a handful of calls at any
    dimension.
    """
    sc = SparkContext._active_spark_context
    jvm = sc._jvm
    vec = np.asarray(query_vec, dtype=">f8")  # java.nio's default order
    arr = sc._gateway.new_array(jvm.double, len(vec))
    jvm.java.nio.ByteBuffer.wrap(vec.tobytes()).asDoubleBuffer().get(arr)
    return Column(jvm.functions.lit(arr))


def score_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """J4: theta-'join' of one query vector against every row.

    Pure narrow transformation - each partition scores independently,
    zero shuffle (reference: server/search.go:241-273 scores in
    hand-rolled 1000-row batches on one core).
    """
    return df.withColumn(
        score_col, cosine_similarity(F.col(vec_col), query_vec_lit(query_vec))
    )


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_col: str | None = None,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """T2: deduped top-k documents by max cosine similarity.

    With ``doc_col`` set, many chunk-vectors per document collapse to the
    document's best score first (partial aggregation map-side, tiny
    shuffle of |docs| rows), then the global top-k merges per-partition
    heaps. The sort key is the score ROUNDED to the registry's 6-decimal
    edge precision with the id ascending as tie-break — raw-double
    ordering would break ties differently than any engine comparing the
    rounded values (the DuckDB oracles ORDER BY the rounded alias), so
    top-k membership at the k boundary could diverge between engines.
    """
    scored = score_cosine(df, query_vec, vec_col)
    key = doc_col or id_col
    best = scored.groupBy(key, *extra_cols).agg(F.max("score").alias("score"))
    return best.orderBy(F.desc(F.round("score", 6)), F.asc(key)).limit(k)


def topk_paginated(
    topk_df: DataFrame, count: int, offset: int, id_col: str = "document_id"
) -> DataFrame:
    """T3: offset/limit pagination over an already-ranked top-k result.

    The reference slices the in-memory top-(count+offset) list
    (server/search.go:312-331); here ``topk_df`` must already be limited
    to count+offset rows, and we re-rank + slice. Top-k results are tiny
    (count <= 20 in the reference, server/search.go:116) so the single
    partition sort is free. ``id_col`` breaks score ties so adjacent
    pages never duplicate or drop equal-scored rows (the registry's
    every-LIMIT-has-a-total-order convention).
    """
    from go_vectorsearch_spark.operators.relational import paginate

    # one pagination implementation: reuse relational.paginate with the
    # SAME total order brute_force_topk ranks by — (round(score, 6)
    # desc, id asc). Raw-score ranking here would let rows equal at 6
    # decimals slice into pages in a different order than the top-k /
    # hydration display order, so a page boundary could drop or
    # duplicate a rounded-tie row.
    return paginate(
        topk_df, [F.desc(F.round("score", 6)), F.asc(id_col)], count, offset
    )


def normalize_search_args(count: int, offset: int, nprobe: int) -> tuple[int, int, int]:
    """F4: argument clamping (reference: server/search.go:116-122).

    count -> [1, 20]; offset >= 0; nprobe: 0 -> 1, negative -> all
    (represented as a very large int).
    """
    count = max(1, min(20, count))
    offset = max(0, offset)
    if nprobe == 0:
        nprobe = 1
    elif nprobe < 0:
        nprobe = 2**31 - 1
    return count, offset, nprobe


def maxsim_topk(
    df: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    doc_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction (MaxSim) top-k: score(doc) = Σ_q max over the
    doc's vectors of cos(q, v) — the ColBERT retrieval rule (Khattab &
    Zaharia, SIGIR 2020), the natural multi-vector generalization of
    the reference's per-chunk search (its per-document MAX over chunk
    scores, server/search.go:259-268, is exactly MaxSim with ONE query
    vector).

    Plan shape: the query set is request-sized, so each query vector
    folds into codegen as its own literal score column (a narrow map —
    no join, no explode); ONE groupBy(doc) computes every per-query MAX
    map-side in the same pass; the sum of maxes is a projection over
    the aggregated row; top-k is TakeOrdered with the engine's
    (round-6 desc, id asc) total order. One corpus scan, one shuffle of
    |docs| x (nq doubles) partial aggregates, regardless of nq.
    """
    qs = [list(map(float, q)) for q in query_vecs]
    if not qs:
        raise ValueError("maxsim_topk: empty query set")
    scored = df.select(
        doc_col,
        *[
            cosine_similarity(F.col(vec_col), query_vec_lit(q)).alias(f"_s{i}")
            for i, q in enumerate(qs)
        ],
    )
    agg = scored.groupBy(doc_col).agg(
        *[F.max(f"_s{i}").alias(f"_m{i}") for i in range(len(qs))]
    )
    total = None
    for i in range(len(qs)):
        c = F.col(f"_m{i}")
        total = c if total is None else total + c
    return (
        agg.select(doc_col, total.alias("score"))
        .orderBy(F.desc(F.round("score", 6)), F.asc(doc_col))
        .limit(k)
    )


def brute_force_topk_with_vector(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_col: str | None = None,
) -> DataFrame:
    """:func:`brute_force_topk` that also returns each document's BEST-
    CHUNK vector (the representative the MMR diversifier measures
    redundancy against). The argmax chunk is selected deterministically:
    max_by over (score, -id), so equal-scored chunks resolve to the
    smallest id. Same plan shape as the scalar form — one scan, one
    |docs|-row shuffle, TakeOrdered."""
    scored = score_cosine(df, query_vec, vec_col)
    key = doc_col or id_col
    best = scored.groupBy(key).agg(
        F.max("score").alias("score"),
        F.max_by(
            vec_col,
            F.struct(F.col("score"), (-F.col(id_col)).alias("_nid")),
        ).alias(vec_col),
    )
    return best.orderBy(F.desc(F.round("score", 6)), F.asc(key)).limit(k)


def mmr_select(
    scores: Sequence[float],
    vectors,
    k: int,
    lam: float = 0.5,
) -> list[int]:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
    over a COLLECTED candidate pool — returns the selected candidate
    indices in selection order.

    mmr(i) = lam * rel(i) - (1 - lam) * max_{j selected} sim(i, j);
    rel is the caller's relevance score, sim is cosine between the
    candidates' vectors. lam=1 degenerates to pure relevance order
    (with the pool's original order as tie-break, so it reproduces the
    non-diversified ranking exactly).

    Driver-side numpy by design: MMR's greedy argmax is sequential in k,
    and the pool is page-scale (tens to low hundreds of rows collected
    by the serving path, like every page/top-n collect in the engine) —
    distributing a k-step sequential loop over a bounded pool would add
    k job launches to save microseconds of BLAS.
    """
    import numpy as np

    n = len(scores)
    if n == 0 or k <= 0:
        return []
    m = np.asarray(vectors, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0.0] = 1.0
    m = m / norms[:, None]
    rel = np.asarray(scores, dtype=np.float64)
    sims = m @ m.T
    selected: list[int] = []
    max_sim = np.full(n, -np.inf)
    remaining = np.ones(n, dtype=bool)
    for _ in range(min(k, n)):
        if selected:
            mmr = lam * rel - (1.0 - lam) * max_sim
        else:
            mmr = lam * rel  # no redundancy term before the first pick
        mmr = np.where(remaining, mmr, -np.inf)
        # deterministic: np.argmax takes the FIRST max, i.e. the pool's
        # original (relevance-ranked) order breaks ties
        pick = int(np.argmax(mmr))
        selected.append(pick)
        remaining[pick] = False
        max_sim = np.maximum(max_sim, sims[pick])
    return selected

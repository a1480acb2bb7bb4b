"""IVF-Flat index pipeline (SURVEY.md §2.8, §3.3) - the flagship plan.

Reference architecture: recursive divide-and-conquer - sample 50k rows,
k-means into <=5 children, route every row to its nearest child via
spill files, recurse per goroutine until subsets <= 10k rows, then
reassign all embeddings, drop small centroids, re-center
(dnc/dnc.go:35-574, dnc/k_means.go:19-212, dnc/dataset.go:19-166).

Spark-first restatement: the recursion exists only because a single Go
process cannot assign a billion rows to a million centroids in one
pass; Spark can. Assignment against broadcast centroids is an
embarrassingly-parallel codegen'd map (operators/assign.py), so the
whole D&C tree collapses into:

    1. distributed Lloyd k-means with k = ceil(N / max_leaf)
       (iterations = full scans; no spill files - the shuffle IS the
       spill machinery, and only |k| x dim aggregates ever move)
    2. a driver while-loop that re-splits any still-oversized leaf
       (the only remnant of the reference recursion, operating on an
       ever-shrinking subset)
    3. prune small leaves + reassign members + re-center - identical
       semantics to the reference's steps 5-7 (dnc/dnc.go:176-296)

Scale notes (the 100 TB design point):
  * centroid set is broadcast: k*dim*8 bytes - 1M centroids x 64 dims
    = 512 MB is the practical ceiling; beyond that, shard the
    assignment by centroid blocks (not needed at any tested SF).
  * every Lloyd iteration is one scan + one (k x dim)-row shuffle
    (map-side partial agg from vector_mean) - data volume per
    iteration is independent of N except for the scan.
  * the assigned table should be written partitionBy("centroid_id")
    so nprobe search prunes partitions exactly like the reference's
    indexed centroid_id column (database/model.go:16).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_vectorsearch_spark.functions.vector import as_double, vector_mean
from go_vectorsearch_spark.operators.assign import assign_nearest, nearest_gemm
from go_vectorsearch_spark.operators.search import brute_force_topk, round6_array

CENTROID_SCHEMA = "centroid_id long, centroid_vec array<double>"


def _quantize_f32_roundtrip(mat: np.ndarray) -> np.ndarray:
    """Driver-side f32 quantize->dequantize of the (tiny) centroid matrix.

    The reference quantizes centroids every k-means iteration and
    converges on byte equality (dnc/k_means.go:80-116); reproducing
    that keeps iteration counts finite and convergence exact. The
    centroid matrix is k x dim - always driver-sized.
    """
    out = np.empty_like(mat, dtype=np.float64)
    for i, v in enumerate(mat):
        v32 = v.astype(np.float32)
        lo = np.float32(min(v32.min(), 0.0))
        hi = np.float32(max(v32.max(), 0.0))
        if hi - lo == 0:
            out[i] = 0.0
            continue
        clamped = np.clip(v32, lo, hi).astype(np.float32)
        q = np.trunc(
            ((clamped - lo) / np.float32(hi - lo) * np.float32(255)).astype(np.float32)
        )
        out[i] = (
            lo + (q.astype(np.float32) / np.float32(255)).astype(np.float32) * np.float32(hi - lo)
        ).astype(np.float32)
    return out


def _centroids_df(spark: SparkSession, mat: np.ndarray, ids: list[int]) -> DataFrame:
    rows = [(int(cid), [float(x) for x in vec]) for cid, vec in zip(ids, mat)]
    return spark.createDataFrame(rows, CENTROID_SCHEMA)


def deterministic_sample(df: DataFrame, n: int, id_col: str) -> DataFrame:
    """C1: uniform-ish sample, deterministic across runs and engines.

    The reference uses a wall-clock-seeded Fisher-Yates
    (dnc/sampling.go:15-96); we order by md5(id) - a fixed random
    permutation - and take n. At scale this is a TakeOrdered (partial
    top-n per partition + merge), not a full sort.
    """
    return df.orderBy(F.md5(F.col(id_col).cast("string"))).limit(n)


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _argmax_ids(X: np.ndarray, ids: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row-wise nearest-centroid ids by cosine argmax —
    operators/assign.py's ``nearest_gemm``, the one numpy kernel behind
    the distributed GEMM batches and the driver-local build path, so both paths
    are float-op-identical per row. ``C`` must already be row-normalized
    and ``ids`` ascending (first-max tie = lowest id,
    compute/cosine.go:113-117). Zero rows score 0 against every
    centroid -> first (lowest) id."""
    return ids[nearest_gemm(X, C)[0]]


def _cluster_stats(X: np.ndarray, mat: np.ndarray):
    """Cosine-argmax assign X to mat's rows; per-cluster (count, sum).
    numpy argmax keeps the first (lowest-index) max = reference
    first-max tie-break (compute/cosine.go:113-117)."""
    sims = _norm_rows(X.astype(np.float64)) @ _norm_rows(mat.astype(np.float64)).T
    zero = np.linalg.norm(X, axis=1) == 0
    sims[zero] = 0.0
    arg = sims.argmax(axis=1)
    counts = np.zeros(len(mat), dtype=np.int64)
    sums = np.zeros_like(mat, dtype=np.float64)
    np.add.at(counts, arg, 1)
    np.add.at(sums, arg, X)
    return counts, sums


def _numpy_lloyd(
    X: np.ndarray,
    k: int,
    max_iters: int,
    init_oversample: int,
    quantize_iterations: bool,
) -> np.ndarray:
    """Driver-side Lloyd loop over a (deterministically sampled, hence
    driver-sized) matrix — the exact shape of the reference, which also
    fits k-means in-process on a <=50k sample (dnc/k_means.go:19-212):
    superset init (k*5 seeds, keep the k largest clusters, T4), then
    assign/mean iterations with per-iteration f32 quantization and
    byte-equality convergence (k_means.go:80-116).

    Running the loop on the driver instead of as per-iteration Spark
    jobs matters: an iteration is a ~(50k x k x d) GEMM — milliseconds
    in numpy, but 20+ job round-trips if distributed. Distribution
    belongs to the *assignment of all N rows* (operators/assign.py),
    not the sample fit.
    """
    n = len(X)
    k = max(1, min(k, n))
    k0 = min(n, k * init_oversample)
    mat = X[:k0].astype(np.float64)

    if k0 > k:
        counts, _ = _cluster_stats(X, mat)
        by_size = sorted(zip(range(k0), counts), key=lambda t: (-t[1], t[0]))[:k]
        mat = mat[[c for c, _ in by_size]]

    prev = None
    for _ in range(max_iters):
        counts, sums = _cluster_stats(X, mat)
        new_mat = mat.copy()  # empty clusters keep their centroid
        nz = counts > 0
        new_mat[nz] = sums[nz] / counts[nz, None]
        if quantize_iterations:
            new_mat = _quantize_f32_roundtrip(new_mat)
        if prev is not None and np.array_equal(new_mat, prev):
            return new_mat
        prev = new_mat
        mat = new_mat
    return mat


def _kmeans_mat(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
    sample_size: int = 50_000,
    init_oversample: int = 5,
    quantize_iterations: bool = True,
    n_total: int | None = None,
) -> np.ndarray:
    """Sample-fit Lloyd returning the raw (k x d) centroid matrix —
    the internal form ``build_index`` feeds straight into the GEMM
    assigner, skipping a createDataFrame→collect round-trip of data
    that never left the driver."""
    if n_total is not None and n_total <= sample_size:
        # corpus already fits the sample budget: every row participates.
        # Collect UNSORTED (one narrow job, no Spark sort) and order
        # driver-side by md5(id) — _numpy_lloyd seeds its superset init
        # from X[:k0], so raw collect() order would make the centroids
        # partition-layout-dependent, breaking the determinism contract
        # deterministic_sample exists for. hashlib.md5 over the decimal
        # string is bit-identical to F.md5(cast as string).
        import hashlib

        rows = df.select(id_col, vec_col).collect()
        rows.sort(key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
        rows = [(r[1],) for r in rows]
    else:
        rows = (
            deterministic_sample(df, sample_size, id_col).select(vec_col).collect()
        )
    if not rows:
        return np.empty((0, 0), dtype=np.float64)
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return _numpy_lloyd(X, k, max_iters, init_oversample, quantize_iterations)


def kmeans(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
    sample_size: int = 50_000,
    init_oversample: int = 5,
    quantize_iterations: bool = True,
    n_total: int | None = None,
) -> DataFrame:
    """C2: sample-fit k-means (dnc/k_means.go:19-212).

    One Spark job collects the deterministic sample (<= sample_size
    rows, driver-sized by construction — SAMPLE_SIZE=50k in the
    reference, config/constants.go:10); the Lloyd loop itself runs in
    numpy on the driver (see _numpy_lloyd). Returns
    (centroid_id long, centroid_vec array<double>), ids in [0, k).
    """
    spark = df.sparkSession
    mat = _kmeans_mat(
        df, k, id_col, vec_col, max_iters, sample_size,
        init_oversample, quantize_iterations, n_total,
    )
    if mat.size == 0:
        return spark.createDataFrame([], CENTROID_SCHEMA)
    return _centroids_df(spark, mat, list(range(len(mat))))


def kmeans_mllib(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iters: int = 20,
) -> DataFrame:
    """C2 alternate path: pyspark.ml.clustering.KMeans with cosine
    distance — the fully-distributed fit for corpora where even the
    SAMPLE wouldn't fit the driver (no sampling shortcut; every
    iteration scans the data). Same output schema as ``kmeans`` so
    ``build_index`` callers can swap fits. The hand-rolled path stays
    the default because its sample-fit matches the reference's
    semantics (superset init + quantized convergence) exactly.
    """
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    spark = df.sparkSession
    feat = df.select(array_to_vector(as_double(F.col(vec_col))).alias("features"))
    model = MLKMeans(
        k=k, seed=seed, maxIter=max_iters, distanceMeasure="cosine"
    ).fit(feat)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, CENTROID_SCHEMA)




@dataclass
class IVFIndex:
    """centroids + per-row assignment, the queryable index."""

    centroids: DataFrame  # centroid_id long, centroid_vec array<double>
    assigned: DataFrame  # original columns + centroid_id


_SPLIT_COLLECT_CAP = 500_000  # max rows one split-round sample pull collects
_ISIN_LITERAL_CAP = 10_000  # prune_small's literal-vs-broadcast-join rule


def _filter_centroids(df: DataFrame, ids, negate: bool = False) -> DataFrame:
    """Rows whose centroid_id is (not) in ``ids`` — an isin literal for
    small sets, a broadcast semi/anti join above the cap (a 10^5-id
    literal bloats codegen; the same rule prune_small applies)."""
    ids = [int(c) for c in ids]
    if len(ids) <= _ISIN_LITERAL_CAP:
        cond = F.col("centroid_id").isin(ids)
        return df.filter(~cond if negate else cond)
    ids_df = df.sparkSession.createDataFrame(
        [(c,) for c in ids], "centroid_id long"
    )
    how = "left_anti" if negate else "left_semi"
    return df.join(F.broadcast(ids_df), "centroid_id", how)


def build_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_leaf: int = 10_000,
    sample_size: int = 50_000,
    max_split_rounds: int = 4,
    min_leaf: int | None = None,
    _force_distributed: bool = False,
) -> IVFIndex:
    """C3/C5: full index build.

    Flat distributed k-means with k = ceil(N / max_leaf) replaces the
    reference's recursion (see module docstring); a driver while-loop
    then re-splits any leaf still > max_leaf (each round touches only
    the oversized subset, like the reference recursing into one
    subtree, dnc/dnc.go:300-400). Finally small leaves
    (< max_leaf/10, dnc/dnc.go:486) are dissolved: members reassigned
    to surviving centroids, which are then re-centered to the member
    mean (C6, dnc/dnc.go:458-574, 402-456).

    Adaptive small-corpus path: when the sample job comes back short,
    the WHOLE corpus is already on the driver — exactly the situation
    the reference is always in (its entire build runs in one process
    over a <=50k sample, dnc/k_means.go:19-30). Launching a cluster
    job per build stage for data the driver holds is pure scheduling
    overhead, so the build then runs ``_build_index_local``: the same
    kernels (``_numpy_lloyd``, ``_argmax_ids``,
    ``_quantize_f32_roundtrip``), same split/prune/re-center order,
    producing byte-identical memberships (pytest-asserted against the
    distributed path). Catalyst makes the same call when it folds a
    driver-sized frame into a LocalRelation. The distributed path is
    taken whenever N exceeds the sample budget — i.e. always at real
    scale; ``_force_distributed`` exists so tests can pin it at small
    SF.
    """
    from pyspark.sql import Window

    from go_vectorsearch_spark.sources.tables import spread

    # NO persist of the corpus frame: at the 100 TB design point the
    # input cannot be cached (the reference re-streams from the DB per
    # pass too, dnc/dnc.go:93-107); the build makes exactly two passes
    # over it (sample job, assignment job) against the columnar scan.
    # count() on the bare scan is metadata-only (parquet row-group
    # stats) — no data read.
    df = spread(df)
    # ONE TakeOrdered job (map-side top-`sample_size` by md5(id) + driver
    # merge — no shuffle, no full sort) doubles as the corpus counter:
    # a sample that comes back short IS the whole corpus, so the
    # separate count() job only runs when the sample budget filled up.
    # FULL rows are collected (not a vector-only projection): the few
    # extra narrow columns per sample row cost less than the second
    # corpus-sized collect the small-corpus path otherwise pays to
    # re-fetch them.
    rows = deterministic_sample(df, sample_size, id_col).collect()
    n = len(rows) if len(rows) < sample_size else df.count()
    if n == 0:
        raise ValueError("build_index: empty corpus")
    if n < sample_size and not _force_distributed:
        # the sample IS the corpus — every remaining stage runs
        # driver-local on the rows already here
        return _build_index_local(
            df.sparkSession, rows, df.schema, id_col, vec_col,
            max_leaf, max_split_rounds, min_leaf,
        )
    samp = [r[vec_col] for r in rows]
    # overshoot k so the average leaf lands at ~70% of max_leaf; with
    # k = n/max_leaf exactly, half the leaves start oversized and every
    # build pays split rounds for geometry, not skew
    k = max(1, math.ceil(n / (max_leaf * 0.7)))

    from go_vectorsearch_spark.operators.assign import assign_nearest_mat

    X = np.array(samp, dtype=np.float64)
    mat = _numpy_lloyd(
        X, k, max_iters=20, init_oversample=5, quantize_iterations=True
    )
    # feed the driver-resident fit straight into the GEMM assigner —
    # wrapping it in a DataFrame only for assign_nearest to collect it
    # back costs a pointless plan+collect round-trip per build.
    # eager=False: the checkpoint materializes inside the split loop's
    # first sizes job instead of paying its own job for it
    # method="gemm" pinned (not "auto"): the local twin
    # (_build_index_local) assigns with numpy GEMM, and auto's expr
    # path for k < GEMM_THRESHOLD computes the same cosines in a
    # different float-op order — near-tie rows could argmax to a
    # different centroid and break the byte-identical-membership
    # contract the equivalence tests pin
    assigned = assign_nearest_mat(
        df,
        [(i, mat[i]) for i in range(len(mat))],
        vec_col=vec_col,
        out_col="centroid_id",
        method="gemm",
    ).localCheckpoint(eager=False)
    next_id = len(mat)

    # split oversized leaves: per round, ONE job samples every oversized
    # leaf (window row_number cap), the driver k-means each leaf's
    # sample, and ONE grouped-GEMM pass reassigns all oversized rows to
    # their leaf's children. The reference recurses one goroutine per
    # subtree with spill files (dnc/dnc.go:300-400); here each round is
    # two jobs regardless of how many leaves split.
    leaf_sizes: dict[int, int] | None = None
    for _ in range(max_split_rounds):
        # collect ALL leaf sizes (k rows — driver-sized by the same
        # contract that lets centroids broadcast); the final round's
        # map feeds prune_small below, saving its own count jobs
        leaf_sizes = {
            r["centroid_id"]: r["cnt"]
            for r in assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        oversized = {c: n for c, n in leaf_sizes.items() if n > max_leaf}
        if not oversized:
            break
        leaf_sizes = None  # stale once this round splits
        ov_ids = sorted(oversized)
        w = Window.partitionBy("centroid_id").orderBy(
            F.md5(F.col(id_col).cast("string"))
        )
        # CHUNKED sample collects: one pull of |chunk| x sample_size
        # rows at a time — with a bad initial fit at the 100 TB design
        # point tens of thousands of leaves can be oversized in round
        # 1, and a single |oversized| x sample_size collect would be a
        # driver OOM (prune_small's >10k rule, applied to the pull)
        chunk_leaves = max(1, _SPLIT_COLLECT_CAP // sample_size)
        children: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for lo in range(0, len(ov_ids), chunk_leaves):
            chunk = ov_ids[lo : lo + chunk_leaves]
            samp_rows = (
                _filter_centroids(assigned, chunk)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= sample_size)
                .select("centroid_id", vec_col)
                .collect()
            )
            by_leaf: dict[int, list] = {}
            for r in samp_rows:
                by_leaf.setdefault(r["centroid_id"], []).append(r[vec_col])
            for cid in chunk:
                X = np.array(by_leaf[cid], dtype=np.float64)
                # same 0.7 overshoot as the top-level k: children
                # averaging exactly max_leaf leave ~half oversized from
                # geometry alone
                kk = max(2, math.ceil(oversized[cid] / (max_leaf * 0.7)))
                mat = _numpy_lloyd(
                    X, kk, max_iters=20, init_oversample=5,
                    quantize_iterations=True,
                )
                ids = np.arange(next_id, next_id + len(mat), dtype=np.int64)
                next_id += len(mat)
                children[int(cid)] = (ids, _norm_rows(mat))
        keep = _filter_centroids(assigned, ov_ids, negate=True)
        split = _assign_children_gemm(
            _filter_centroids(assigned, ov_ids), children, vec_col
        )
        assigned = keep.unionByName(split).localCheckpoint(eager=False)

    # prune small centroids, reassign their members, re-center
    if min_leaf is None:
        min_leaf = max_leaf // 10
    index = IVFIndex(centroids=recenter(assigned, vec_col), assigned=assigned)
    index = prune_small(index, vec_col=vec_col, min_size=min_leaf, sizes=leaf_sizes)
    return index


def _build_index_local(
    spark: SparkSession,
    rows: list,
    schema,
    id_col: str,
    vec_col: str,
    max_leaf: int,
    max_split_rounds: int,
    min_leaf: int | None,
) -> IVFIndex:
    """Driver-local twin of ``build_index``'s distributed stages, taken
    when the deterministic sample already contains the whole corpus
    (see build_index docstring). Same kernels, same stage order:
    lloyd fit -> argmax assign -> split oversized leaves -> prune small
    -> quantized re-center. ``rows`` arrive in md5(id) order — the same
    order the distributed path feeds the per-leaf k-means fits, so the
    fits see identical matrices. Memberships come out identical (up to
    centroid relabeling across split rounds); pytest asserts partition
    equality against ``_force_distributed=True``.
    """
    from collections import Counter

    from pyspark.sql import types as T

    n = len(rows)
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    k = max(1, math.ceil(n / (max_leaf * 0.7)))
    mat = _numpy_lloyd(X, k, max_iters=20, init_oversample=5, quantize_iterations=True)
    assign = _argmax_ids(X, np.arange(len(mat), dtype=np.int64), _norm_rows(mat))
    next_id = len(mat)

    for _ in range(max_split_rounds):
        sizes = Counter(assign.tolist())
        oversized = sorted(c for c, m in sizes.items() if m > max_leaf)
        if not oversized:
            break
        for cid in oversized:
            member_idx = np.nonzero(assign == cid)[0]
            kk = max(2, math.ceil(len(member_idx) / (max_leaf * 0.7)))
            cmat = _numpy_lloyd(
                X[member_idx], kk, max_iters=20, init_oversample=5,
                quantize_iterations=True,
            )
            cids = np.arange(next_id, next_id + len(cmat), dtype=np.int64)
            next_id += len(cmat)
            assign[member_idx] = _argmax_ids(X[member_idx], cids, _norm_rows(cmat))

    def _qmeans(members: dict[int, np.ndarray]) -> np.ndarray:
        """Per-centroid member mean -> f32 quantize roundtrip, the
        driver twin of ``recenter`` (same §1.3 semantics)."""
        return _quantize_f32_roundtrip(
            np.vstack([X[idx].sum(axis=0) / len(idx) for idx in members.values()])
        )

    if min_leaf is None:
        min_leaf = max_leaf // 10
    sizes = Counter(assign.tolist())
    present = sorted(sizes)
    members = {c: np.nonzero(assign == c)[0] for c in present}
    survivors = sorted(c for c in present if sizes[c] >= min_leaf)
    if survivors and len(survivors) < len(present):
        # orphans reassign against the QUANTIZED re-centered survivors,
        # exactly like prune_small feeds recenter()'d centroids
        qmat = _qmeans(members)
        surv_rows = _norm_rows(qmat[[present.index(c) for c in survivors]])
        orphan_idx = np.nonzero(~np.isin(assign, survivors))[0]
        assign[orphan_idx] = _argmax_ids(
            X[orphan_idx], np.array(survivors, dtype=np.int64), surv_rows
        )
        present = survivors
        members = {c: np.nonzero(assign == c)[0] for c in present}
    qmat = _qmeans(members)

    out_schema = T.StructType(
        list(schema.fields) + [T.StructField("centroid_id", T.LongType())]
    )
    try:
        # one Arrow batch instead of the pickle local-relation walk
        # (guide §6: Arrow for driver transfers) — the rows are the
        # driver-sized sample by construction
        import pandas as pd

        pdf = pd.DataFrame(
            {f.name: [r[f.name] for r in rows] for f in schema.fields}
        )
        pdf["centroid_id"] = [int(c) for c in assign]
        assigned = spark.createDataFrame(pdf, out_schema)
    except Exception:
        assigned = spark.createDataFrame(
            [tuple(r) + (int(c),) for r, c in zip(rows, assign)], out_schema
        )
    return IVFIndex(
        centroids=_centroids_df(spark, qmat, [int(c) for c in present]),
        assigned=assigned,
    )


def _assign_children_gemm(
    df: DataFrame,
    children: dict[int, tuple[np.ndarray, np.ndarray]],
    vec_col: str,
) -> DataFrame:
    """Reassign rows of split leaves to their own leaf's children: per
    Arrow batch, group rows by parent centroid_id and GEMM each group
    against that parent's (normalized) child matrix. Narrow, no shuffle;
    the children dict is closure-broadcast (k x d driver-sized)."""
    import pandas as pd

    out_schema = df.schema
    in_cols = [f.name for f in df.schema.fields]

    def reassign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            res = pdf[in_cols].copy()
            for parent, grp in pdf.groupby("centroid_id"):
                ids, C = children[int(parent)]
                X = np.vstack(grp[vec_col].to_numpy()).astype(np.float64)
                sims = _norm_rows(X) @ C.T
                sims[np.linalg.norm(X, axis=1) == 0] = 0.0
                res.loc[grp.index, "centroid_id"] = ids[sims.argmax(axis=1)]
            yield res

    return df.mapInPandas(reassign, schema=out_schema)


def recenter(assigned: DataFrame, vec_col: str, quantize_output: bool = True) -> DataFrame:
    """C5 step 7: centroid := mean of member vectors, then an f32
    quantize→dequantize round-trip of the mean (dnc/dnc.go:402-456: the
    reference re-quantizes recentered centroids on save, it never stores
    a full-precision centroid). The round-trip runs as Catalyst
    expressions per centroid row — same §1.3 semantics (0-anchored f32
    range, truncation) as the driver-side ``_quantize_f32_roundtrip``
    used inside the k-means loop."""
    means = vector_mean(assigned, ["centroid_id"], vec_col, out_col="centroid_vec")
    if not quantize_output:
        return means
    from go_vectorsearch_spark.functions.vector import (
        as_double,
        dequantize,
        quantize,
        vector_range,
    )

    lo, hi = vector_range(F.col("centroid_vec"))
    codes = quantize(F.col("centroid_vec"), lo, hi, "float32")
    return means.select(
        "centroid_id",
        as_double(dequantize(codes, lo, hi, "float32")).alias("centroid_vec"),
    )


def prune_small(
    index: IVFIndex,
    vec_col: str,
    min_size: int,
    sizes: dict[int, int] | None = None,
) -> IVFIndex:
    """C6: dissolve centroids with < min_size members; reassign members
    to the nearest surviving centroid; re-center survivors
    (dnc/dnc.go:458-574).

    ``sizes`` — a pre-collected {centroid_id: member count} map (k
    entries, driver-sized like the centroid table itself) skips the
    counting job; ``build_index`` passes its split-loop's final sizes.
    """
    if sizes is None:
        sizes = {
            r["centroid_id"]: r["cnt"]
            for r in index.assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    survivors = sorted(c for c, n in sizes.items() if n >= min_size)
    if not survivors or len(survivors) == len(sizes):
        return IVFIndex(centroids=recenter(index.assigned, vec_col), assigned=index.assigned)

    if len(survivors) <= 10_000:
        # literal predicate: no extra frame, no broadcast exchange
        surv = F.col("centroid_id").isin(survivors)
        surviving_cents = index.centroids.filter(surv)
        orphans = index.assigned.filter(~surv).drop("centroid_id")
        keep = index.assigned.filter(surv)
    else:
        # at the 100 TB design point k can reach ~10^6 — too many for an
        # isin literal; a broadcast semi/anti join keeps the plan small
        spark = index.assigned.sparkSession
        surv_df = spark.createDataFrame(
            [(int(c),) for c in survivors], "centroid_id long"
        )
        surviving_cents = index.centroids.join(F.broadcast(surv_df), "centroid_id")
        orphans = index.assigned.join(
            F.broadcast(surv_df), "centroid_id", "left_anti"
        ).drop("centroid_id")
        keep = index.assigned.join(F.broadcast(surv_df), "centroid_id", "left_semi")
    reassigned = assign_nearest(
        orphans, surviving_cents, vec_col=vec_col, out_col="centroid_id"
    )
    assigned = keep.unionByName(reassigned)
    return IVFIndex(centroids=recenter(assigned, vec_col), assigned=assigned)


def write_partitioned(
    index: IVFIndex,
    path: str,
    files_per_centroid: int = 1,
    id_col: str = "vec_id",
) -> None:
    """Persist the index partitioned by centroid_id - the parquet analog
    of the reference's indexed FK column (database/model.go:16): nprobe
    search then prunes partitions at the source.

    The repartition on centroid_id is load-bearing: without it every
    write task owns rows of every centroid, producing tasks x centroids
    small files (1000 executors x 10k centroids = 10M files - a
    metadata catastrophe); with it each centroid's rows sit in one
    shuffle partition, so the file count is O(centroids).

    ``files_per_centroid > 1`` adds a deterministic id-hash sub-key to
    the repartition for SKEWED indexes: a hot leaf (a duplicate-heavy
    crawl can pile millions of near-identical vectors into one
    centroid) otherwise funnels through a single write task and becomes
    one task-killing file. The sub-key spreads each centroid over that
    many tasks/files while keeping the directory layout - and therefore
    partition pruning - identical. File count becomes
    O(centroids x files_per_centroid); leave at 1 unless leaf skew is
    real (leaf sizes are known from the build, so callers can decide).
    """
    df = index.assigned
    if files_per_centroid > 1:
        # explicit partition count (files x centroids): leaving it to the
        # session default lets AQE coalesce the sub-splits back into one
        # task whenever partitions are small, silently undoing the
        # spread; the centroid count is a collect-sized frame by the
        # build contract, so the count() here is a k-row job
        n_parts = files_per_centroid * max(1, index.centroids.count())
        df = df.repartition(
            n_parts,
            F.col("centroid_id"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_centroid)),
        )
    else:
        df = df.repartition("centroid_id")
    df.write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/assigned")
    index.centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def read_index(spark: SparkSession, path: str) -> IVFIndex:
    return IVFIndex(
        centroids=spark.read.parquet(f"{path}/centroids"),
        assigned=spark.read.parquet(f"{path}/assigned"),
    )


def nearest_centroids_distributed(
    centroids: DataFrame, query_vec, nprobe: int
) -> list[int]:
    """T1 at index scale: the same nprobe ranking as
    :func:`nearest_centroids`, but scored as Catalyst expressions with a
    TakeOrdered top-nprobe — only nprobe rows ever reach the driver.

    Use this when the centroid table outgrows the broadcast/collect
    contract (~10^6 centroids at the 100 TB design point: collecting
    10M x d float64 rows is GBs on the driver; scoring them is one
    narrow map over a k-row frame). Same score, same (score desc, id
    asc) tie-break — pytest asserts list-equality with the driver path.
    """
    from go_vectorsearch_spark.operators.search import score_cosine

    ranked = (
        score_cosine(
            centroids, list(query_vec), vec_col="centroid_vec", score_col="score"
        )
        .orderBy(F.desc("score"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    return [int(r["centroid_id"]) for r in ranked.collect()]


def _centroid_matrix(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect the centroid table once as (ids, matrix) — the shared
    driver-side form every probe ranking consumes."""
    rows = centroids.collect()
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    ids = np.fromiter((r["centroid_id"] for r in rows), dtype=np.int64, count=len(rows))
    mat = np.array([r["centroid_vec"] for r in rows], dtype=np.float64)
    return ids, mat


def _rank_centroids(
    ids: np.ndarray,
    mat: np.ndarray,
    query_vec,
    nprobe: int,
    rounded: bool = False,
) -> list[int]:
    """THE driver-side probe ranker (also behind api._rank_probe_ids —
    one implementation, so zero-norm and tie handling can't drift).
    ``rounded`` ranks on Spark's ``round(score, 6)`` (the engine's
    6-decimal edge convention, via search.round6_array) instead of the
    raw double."""
    if len(ids) == 0:
        return []
    q = np.array(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    # one matrix-vector product, not a python loop per centroid — at the
    # design point k reaches ~10^6 driver-side rows
    denom = qn * np.linalg.norm(mat, axis=1)
    sims = np.divide(mat @ q, denom, out=np.zeros(len(ids)), where=denom != 0.0)
    key = round6_array(sims) if rounded else sims
    order = np.lexsort((ids, -key))  # score desc, id asc tie-break
    return [int(ids[i]) for i in order[:nprobe]]


def nearest_centroids(
    centroids: DataFrame, query_vec, nprobe: int
) -> list[int]:
    """T1: pick the nprobe nearest centroids to the query (tiny table,
    driver-side math like the reference's in-process scan,
    server/search.go:202-227). Per-search latency path: no Spark job at
    all when ``centroids`` is persisted. For centroid tables too big to
    collect, use :func:`nearest_centroids_distributed`.
    """
    ids, mat = _centroid_matrix(centroids)
    return _rank_centroids(ids, mat, query_vec, nprobe)


def ivf_search(
    index: IVFIndex,
    query_vec,
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_col: str | None = None,
    where=None,
) -> DataFrame:
    """Search: prune to the nprobe nearest partitions, then brute-force
    top-k inside them (server/search.go:234-273). nprobe >= |centroids|
    degrades to exact brute force - the parity case the oracle checks.

    The isin filter is a pushed-down partition predicate when the
    assigned table was written partitionBy("centroid_id") - only the
    probed inverted lists are read, the Spark analog of the
    reference's `centroid_id IN (...)` indexed scan.

    ``where`` (an optional Column predicate over the assigned table's
    metadata columns) composes a scalar filter with the vector search
    as a PRE-filter: the predicate applies to the probed lists BEFORE
    scoring, so the top-k always holds k matching rows (a post-filter
    over an unfiltered top-k can silently return fewer). Both the probe
    isin and the predicate reach the stored layout's parquet scan
    (partition pruning + row-group pushdown); at nprobe=all this is
    exact filtered search — the oracle-checked case — and at nprobe<all
    recall is the usual IVF trade within matching rows. The reference's
    own category scoping (search.go:229-233) is exactly this shape with
    `where = (category_id = ?)`.
    """
    probe_ids = nearest_centroids(index.centroids, query_vec, nprobe)
    pruned = index.assigned.filter(F.col("centroid_id").isin(probe_ids))
    if where is not None:
        pruned = pruned.filter(where)
    return brute_force_topk(
        pruned, query_vec, k, id_col=id_col, vec_col=vec_col, doc_col=doc_col
    )


def ivf_search_adaptive(
    index: IVFIndex,
    query_vec,
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_col: str | None = None,
    where=None,
):
    """Filtered search with automatic probe widening: run at ``nprobe``,
    and while fewer than k rows come back AND unprobed partitions
    remain, double nprobe and retry — the production answer to a
    SELECTIVE predicate (a where= keeping 1/1000 of rows leaves a
    1-probe search underfilled; a fixed large nprobe makes every
    unselective query pay for the selective ones). Each round is one
    partition-pruned job; rounds grow geometrically, so the worst case
    (predicate matches < k rows in the whole corpus) costs
    log2(|centroids|) rounds ≈ one exact filtered search, and the
    common case stays one cheap probe — the doubling reaches
    nprobe=|centroids| unconditionally, so a widened search NEVER
    returns fewer rows than the exact filtered search would. Returns
    (result, nprobe_used).

    Qdrant/pgvector planners make the same selectivity-driven choice
    with cardinality estimates; doubling-on-underfill needs no
    estimator and never returns fewer rows than an exact filtered
    search would at the widened probe set."""
    # centroid count from the driver-side collect every probe ranking
    # already performs — a count() here would be one extra Spark job on
    # the per-query latency path for a number that is free
    n_cents = len(_centroid_matrix(index.centroids)[0])
    nprobe = max(1, min(nprobe, n_cents))
    while True:
        res = ivf_search(
            index, query_vec, k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, doc_col=doc_col, where=where,
        )
        rows = res.collect()
        # termination: nprobe strictly doubles toward n_cents, so the
        # loop runs at most log2(n_cents)+1 rounds before the exact
        # filtered search decides — no round cap that could silently
        # truncate widening below the corpus
        if len(rows) >= k or nprobe >= n_cents:
            spark = index.assigned.sparkSession
            out = spark.createDataFrame(rows, res.schema) if rows else res
            return out, nprobe
        nprobe = min(nprobe * 2, n_cents)


def ivf_search_batch(
    index: IVFIndex,
    queries: list[tuple[int, list]],
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where=None,
) -> DataFrame:
    """Batched IVF search: N queries share ONE plan.

    The brute-force batch variant (`batch_search_topk`) scores every
    query against the whole corpus; here each query scores only its own
    nprobe probed inverted lists. Probe ranking runs driver-side against
    the ONE collected centroid matrix (a request batch is
    driver-sized by definition — the reference serves each request the
    same way, server/search.go:202-227); the (q_id, qvec, centroid_id)
    probe frame then broadcasts into a map-side join with the assigned
    table, so a row is scored once per query that probes its partition
    — total candidate work = Σ_q |probed lists of q|, NOT |queries| ×
    |corpus|. One shuffle: the per-query top-k window on (q_id).

    Tie-break matches :func:`brute_force_topk` exactly (round(score, 6)
    desc, id asc), so nprobe = all reproduces the per-query brute force.

    ``where`` pre-filters the assigned table before the probe join —
    the batch twin of :func:`ivf_search`'s predicate composition, same
    every-hit-matches guarantee.
    """
    from pyspark.sql import Window

    from go_vectorsearch_spark.functions.vector import cosine_similarity

    spark = index.assigned.sparkSession
    ids, mat = _centroid_matrix(index.centroids)
    probe_rows = [
        (int(qid), [float(x) for x in qv], int(cid))
        for qid, qv in queries
        for cid in _rank_centroids(ids, mat, qv, nprobe)
    ]
    probe = spark.createDataFrame(
        probe_rows, "q_id long, _qvec array<double>, centroid_id long"
    )
    pool = index.assigned if where is None else index.assigned.filter(where)
    cand = pool.join(F.broadcast(probe), "centroid_id")
    # dot() casts element-wise to double with the same fold order as the
    # literal-query path, so scores are bit-identical to ivf_search's
    scored = cand.withColumn(
        "score", cosine_similarity(F.col(vec_col), F.col("_qvec"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("score", 6)), F.asc(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", id_col, "score")
    )

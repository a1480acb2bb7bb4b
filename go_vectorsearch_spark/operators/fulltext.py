"""Full-text retrieval: BM25 lexical search + reciprocal-rank fusion.

The reference retrieves by embedding cosine only; any production search
stack pairs that with a lexical scorer, and a training-data pipeline
needs the same machinery for corpus-level term statistics. This module
is the Spark-first version of an inverted-index BM25 engine:

  * the index is a POSTINGS TABLE (term, doc_id, tf, dl) — document
    length denormalized into each posting so the query path never joins
    a corpus-sized side — built in one explode + one groupBy pass, written once
    per corpus (at 100 TB: partitionBy a term hash bucket so a query's
    postings scan prunes to its terms' buckets; the build shuffles each
    token once, the classic inverted-index construction);
  * a query scores ONLY its own terms' postings: the postings scan gets
    an `isin(query terms)` filter (pushed to parquet on a stored
    index), joins the per-term idf — an aggregate over the SAME pruned
    scan, broadcast because a query has a handful of terms — computes
    the BM25 term contribution, and groupBy(doc).sum → TakeOrdered
    top-k, all ONE Spark job with no driver round-trip. Work per query
    = Σ postings of the query's terms, never the corpus.
  * hybrid retrieval = reciprocal-rank fusion of the lexical ranking
    with the engine's cosine ANN ranking (two bounded top-n frames;
    the fusion itself is driver-sized arithmetic kept declarative).

Scoring is Robertson/Sparck-Jones BM25 (the Okapi formulation used by
Lucene/Elasticsearch):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, q) = Σ_t idf(t) · tf · (k1 + 1) / (tf + k1·(1 − b + b·|d|/avgdl))

Tokenization is deliberately minimal and ENGINE-REPRODUCIBLE (lowercase,
split on non-alphanumeric runs) so the DuckDB oracle tests can replay it
exactly (tests/test_fulltext.py).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_vectorsearch_spark import versioned
from go_vectorsearch_spark.persist import Scope

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokenize(col: Column) -> Column:
    """lowercase, split on non-alphanumeric runs, drop empties — one
    codegen'd expression (split produces '' at string edges; filter
    keeps the token multiset exact)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


@dataclass(frozen=True)
class BM25Index:
    """postings: (term, doc_id, tf, dl) — the document length is
    DENORMALIZED into every posting at build time (one small int per
    row) so the query path is a single pruned scan with NO join against
    a corpus-sized lengths table; n_docs/avgdl are the two corpus
    scalars every query needs (driver-held, like the reference's
    cached centroid set)."""

    postings: DataFrame
    n_docs: int
    avgdl: float
    # total token count (Σ dl over docs) — an INTEGER, so incremental
    # appends merge corpus stats exactly: avgdl = sum_dl / n_docs gives
    # bit-identical scores whether the store was built whole or grown
    # by append_postings. None only for hand-built legacy instances.
    sum_dl: int | None = None


def build_bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = False,
) -> BM25Index:
    """One explode + one groupBy(term, doc) pass — each token shuffles
    once, the standard distributed inverted-index build; dl rides every
    posting row (grouping on it is free: dl is functionally dependent
    on doc_id). The two corpus scalars are ONE driver row. At scale the
    postings frame is written once (bucketed by term hash) and reused
    per query, exactly like the IVF assignment column.

    ``n_docs`` counts only documents with at least one token: a
    token-less document contributes no posting rows, so counting it
    would make its later deletion unable to shrink the stats it never
    backed (delete_postings intersects victims with the stored
    postings) — excluding it keeps "tombstone ≡ rebuild over survivors"
    exact for every input, and avgdl the mean over REAL documents.

    ``persist=True`` materializes the postings (the serving shape) and
    then derives BOTH corpus scalars FROM the cached postings (one
    distinct-doc aggregate) — so the corpus is tokenized exactly once
    instead of once for stats and once for the postings."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_toks")
    )
    postings = (
        toks.select("doc_id", F.size("_toks").alias("dl"), F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )
    if persist:
        # the stats aggregate below is itself the materializing action:
        # it scans every posting partition, filling the cache while
        # computing the corpus scalars — a separate eager count() was
        # one extra pass over the postings. The held postings are
        # handed off to the caller's scope.
        with Scope() as scope:
            postings = scope.hold(postings)
            stats = (
                postings.select("doc_id", "dl")
                .distinct()
                .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
                .head()
            )
            postings = scope.hand_off(postings)
    else:
        stats = toks.agg(
            F.count(F.when(F.size("_toks") > 0, 1)).alias("n"),
            F.sum(F.size("_toks")).alias("s"),
        ).head()
    n, dl_sum = int(stats["n"]), int(stats["s"] or 0)
    return BM25Index(
        postings=postings,
        n_docs=n,
        avgdl=(dl_sum / n if n else 0.0),
        sum_dl=dl_sum,
    )


def _idf_agg(pruned: DataFrame, n: float) -> DataFrame:
    """Per-term Robertson idf over the pruned postings scan (df = that
    term's posting count) — THE single idf definition; every scorer
    (single, stored, batched) joins this aggregate."""
    return pruned.groupBy("term").agg(
        F.log(
            1.0 + (F.lit(n) - F.count("*") + 0.5) / (F.count("*") + 0.5)
        ).alias("_idf")
    )


def _bm25_contrib(k1: float, b: float, avgdl: float) -> Column:
    """The per-posting BM25 term contribution (expects the joined
    ``_idf`` plus the posting's ``tf``/``dl`` columns) — THE single
    formula; a tuning change here reaches every scorer at once."""
    return (
        F.col("_idf")
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.lit(float(avgdl)))
        )
    )


def bm25_score_many(
    spark,
    index: BM25Index,
    q_terms: list[list[str]],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame | None:
    """Batched BM25 core: N term-lists scored against ONE pruned
    postings scan — (q_ix, doc_id, score), with a broadcast
    (q_ix, term) frame fanning each posting to the queries that contain
    its term. idf/df and the corpus scalars come from the SAME shared
    definitions as :func:`bm25_search` (which is the N=1 shape), so the
    batched scores match the single-query scorer exactly by
    construction, not by parallel maintenance. ``None`` when there are
    no terms or no documents."""
    all_terms = sorted({t for ts in q_terms for t in ts})
    if not all_terms or index.n_docs == 0:
        return None
    n = float(index.n_docs)
    avgdl = index.avgdl if index.avgdl > 0 else 1.0
    pruned = index.postings.filter(F.col("term").isin(all_terms))
    qt = spark.createDataFrame(
        [(ix, t) for ix, ts in enumerate(q_terms) for t in ts],
        "q_ix long, term string",
    )
    return (
        pruned.join(F.broadcast(_idf_agg(pruned, n)), "term")
        .join(F.broadcast(qt), "term")
        .select("q_ix", "doc_id", _bm25_contrib(k1, b, avgdl).alias("_c"))
        .groupBy("q_ix", "doc_id")
        .agg(F.sum("_c").alias("score"))
    )


def bm25_search(
    index: BM25Index,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for ``query``: postings pruned to the query's
    terms; idf joins in from a per-term document-frequency aggregate
    over the SAME pruned scan — broadcast, because a query has a
    handful of terms — so the whole search is ONE Spark job with no
    driver round-trip; BM25 contribution in codegen, groupBy(doc).sum,
    TakeOrdered with the engine's (round-6 desc, id asc) total order.

    ``allowed`` (a one-column ``doc_id`` frame) PRE-filters the
    candidate postings, so the top-k holds k allowed documents — the
    filtered-search contract ivf_search(where=) follows on the vector
    side. Scoring statistics (idf from df over the pruned scan, the
    corpus n/avgdl) intentionally stay corpus-wide: the predicate
    narrows WHICH documents may rank, not what the terms mean — the
    standard filtered-search semantics (and Lucene's). No broadcast
    hint: the allowed set is caller-sized; AQE broadcasts iff small."""
    terms = sorted(
        {t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t}
    )
    empty = index.postings.sparkSession.createDataFrame(
        [], "doc_id long, score double"
    )
    if not terms or index.n_docs == 0:
        return empty
    n = float(index.n_docs)
    avgdl = index.avgdl if index.avgdl > 0 else 1.0
    # the query path is one pruned scan scored, one pruned scan
    # aggregated for df — both Σ postings(query terms), never the
    # corpus; dl rides each posting row, so there is no corpus-sized
    # join side anywhere
    pruned = index.postings.filter(F.col("term").isin(terms))
    # idf comes from the UNFILTERED pruned scan — corpus-wide df, per
    # the stats contract above — while only the SCORED side narrows to
    # the allowed documents (filtering df too would shift the relative
    # term weights of a multi-term query with the predicate)
    idf = _idf_agg(pruned, n)
    if allowed is not None:
        pruned = pruned.join(
            allowed.select(F.col(allowed.columns[0]).alias("doc_id")),
            "doc_id",
            "left_semi",
        )
    scored = pruned.join(F.broadcast(idf), "term").select(
        "doc_id",
        _bm25_contrib(k1, b, avgdl).alias("_contrib"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("_contrib").alias("score"))
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    fused(d) = Σ_r 1/(c + rank_r(d)), ranks from each input's
    (round-6 score desc, id asc) total order; documents absent from a
    ranking contribute nothing.

    Inputs are top-n frames (bounded by contract: every input is a
    ``.limit(n)`` search result), so ALL rankings collapse to ONE
    single-row aggregate over their leg-tagged union — one
    collect_list per leg (a ``when(leg=i)`` conditional list, nulls
    dropped), array_sort on a (-round(score,6), id) sort key, then a
    codegen'd indexed transform turns position into rank and one
    flatten+explode feeds the fusion groupBy. No Window at all, and no
    per-leg aggregate stage (the r5 shape ran one aggregate + explode
    PER leg and unioned afterwards — pure stage-count overhead): an
    unpartitioned ``row_number`` would be a single-task sort of the
    whole input if a corpus-sized frame ever slipped in, while
    collect_list over an unbounded frame fails fast on the single-row
    aggregate instead of silently serializing the corpus through one
    task. Corpus-sized frames must never be passed here."""
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(F.lit(i).alias("_leg"), F.col(id_col), F.col("score"))
        tagged = t if tagged is None else tagged.unionByName(t)
    per_leg = tagged.agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_leg") == i,
                        F.struct(
                            (-F.round("score", 6)).alias("_nk"),
                            F.col(id_col).alias("_id"),
                        ),
                    )
                )
            ).alias(f"_a{i}")
            for i in range(len(rankings))
        ]
    )
    contribs = F.flatten(
        F.array(
            *[
                F.transform(
                    F.col(f"_a{i}"),
                    lambda s, p: F.struct(
                        s["_id"].alias("_id"),
                        (1.0 / (F.lit(c) + p + 1)).alias("_rrf"),
                    ),
                )
                for i in range(len(rankings))
            ]
        )
    )
    return (
        per_leg.select(F.explode(contribs).alias("_s"))
        .select(F.col("_s._id").alias(id_col), F.col("_s._rrf").alias("_rrf"))
        .groupBy(id_col)
        .agg(F.sum("_rrf").alias("score"))
        .orderBy(F.desc(F.round("score", 6)), F.asc(id_col))
        .limit(k)
    )


# the stored layout's on-disk schema (postings + the _tb partition
# column) — declared so empty batches read back without inference
STORED_POSTINGS_SCHEMA = "term string, doc_id long, dl int, tf long, _tb long"


def _current(path: str, caller: str) -> tuple[int, dict]:
    """(version, manifest) of the store's current snapshot."""
    v, m = versioned.snapshot(path)
    if m is None:
        raise FileNotFoundError(f"{caller}: no postings store at {path}")
    return v, m


def _write_batch_dir(
    postings: DataFrame, path: str, rel: str, n_buckets: int
) -> str:
    """THE batch writer (rebuilds, appends, and streaming epochs all
    route here, so the bucketing function cannot diverge between
    paths)."""
    bucketed = postings.withColumn(
        "_tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    (
        # exactly n_buckets shuffle partitions: the write fans out by
        # _tb anyway, so the default spark.sql.shuffle.partitions only
        # adds empty tasks (and empty-file overhead) past n_buckets
        bucketed.repartition(n_buckets, F.col("_tb"))
        # overwrite reclaims a batch dir orphaned by a failed earlier
        # attempt at this same version (pointer never moved), mirroring
        # the versioned tables' _write_batch
        .write.mode("overwrite")
        .partitionBy("_tb")
        .parquet(f"{path}/{rel}")
    )
    return rel


def _index_sum_dl(index: BM25Index) -> int:
    return (
        index.sum_dl
        if index.sum_dl is not None
        else int(round(index.avgdl * index.n_docs))
    )


class ConcurrentWriteError(RuntimeError):
    """A snapshot-based rewrite (rebuild/compact) found the store moved
    past the version its snapshot was read at — committing would erase
    the interleaved writer's batch while keeping its epoch key in
    ``applied`` (a silently-skipped replay = permanent loss). The
    caller re-reads and retries."""


def write_postings(
    index: BM25Index,
    path: str,
    n_buckets: int = 64,
    base_version: int | None = None,
) -> None:
    """Persist the postings in the at-scale layout: an IMMUTABLE batch
    directory partitioned by term HASH BUCKET (xxhash64 mod n_buckets)
    — a query's scan prunes to its terms' buckets, the inverted
    index's seek as directory pruning — referenced by a tiny JSON
    manifest (batch list + corpus scalars) behind the store's pointer
    (:mod:`go_vectorsearch_spark.versioned`).
    Readers resolve the pointer once per request, so a concurrent
    rebuild or append NEVER mutates directories under an in-flight
    scan: a rebuild writes a NEW batch and points a NEW manifest at it,
    leaving every old version's files in place (snapshot isolation,
    the same manifest-over-immutable-data contract as the engine's
    versioned tables). One shuffle co-locates each bucket before the
    write (one file per bucket per batch).

    A rebuild CARRIES FORWARD the applied-epoch memory of the store it
    replaces: a streaming epoch committed before the rebuild is inside
    the rebuilt corpus, so its at-least-once replay must keep being
    recognized and skipped afterwards. Because a rebuild's INDEX is
    computed from a corpus snapshot taken outside the store lock, a
    rebuilder passes the store version its snapshot corresponds to as
    ``base_version`` (-1 for a store that did not exist yet): if an
    append/epoch committed in between, the commit raises
    :class:`ConcurrentWriteError` instead of silently erasing it, and
    the rebuilder re-snapshots and retries."""
    with versioned.lock(path):
        v, m = versioned.snapshot(path)
        if base_version is not None and v != base_version:
            raise ConcurrentWriteError(
                f"write_postings: store at {path} moved past "
                f"v{base_version} (now v{v})"
            )
        rel = _write_batch_dir(index.postings, path, f"batches/b{v + 1}", n_buckets)
        versioned.commit(
            path,
            v + 1,
            {
                "batches": [rel],
                "applied": m.get("applied", []) if m else [],
                "n_docs": index.n_docs,
                "sum_dl": _index_sum_dl(index),
                "n_buckets": int(n_buckets),
            },
        )


def term_buckets(spark, terms: list[str], n_buckets: int) -> list[int]:
    """The stored layout's buckets of ``terms``, ``pmod(xxhash64(term),
    n_buckets)``, on the driver: Spark's own XXH64 over the UTF-8 bytes
    with the expression's seed (42), so no job runs and no Python twin
    of the hash can drift from the write side. The hasher is an
    instance: py4j resolves a static method by the first overload of
    its name the JVM lists, which may be the instance one."""
    jvm = spark._jvm
    xxh64 = jvm.org.apache.spark.sql.catalyst.expressions.XXH64(42)
    offset = jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    return sorted({
        xxh64.hashUnsafeBytes(b, offset, len(b)) % n_buckets
        for b in (bytearray(t.encode("utf-8")) for t in terms)
    })


def _batches_frame(
    spark, path: str, m: dict, buckets: list[int] | None = None
) -> DataFrame:
    """Union of a manifest's immutable batch directories under the
    explicit stored schema (an EMPTY batch has no files to infer from)
    — the single definition of the stored-layout scan, shared by
    read_postings and delete_postings' presence scan. ``buckets``
    names the only ``_tb=`` directories to read, under each batch's
    ``basePath`` so ``_tb`` stays a partition column: past 32
    directories a whole-batch read runs a parallel listing job."""
    frames = []
    for rel in m["batches"]:
        base = f"{path}/{rel}"
        reader = spark.read.schema(STORED_POSTINGS_SCHEMA)
        if buckets is None:
            frames.append(reader.parquet(base))
            continue
        dirs = [d for d in (f"{base}/_tb={b}" for b in buckets) if os.path.isdir(d)]
        if dirs:
            frames.append(reader.option("basePath", base).parquet(*dirs))
    if not frames:
        return spark.createDataFrame([], STORED_POSTINGS_SCHEMA)
    return reduce(DataFrame.unionByName, frames)


def read_postings(
    spark, path: str, terms: list[str] | None = None
) -> tuple[BM25Index, int]:
    """(index over the stored layout, n_buckets) at the CURRENT version
    — the pointer and manifest are driver-side file reads (no Spark
    job). The postings frame unions the manifest's batch directories.

    ``terms`` prunes it to those terms' hash buckets, the inverted
    index's seek as directory pruning: the scan names only their
    directories (:func:`term_buckets`), and the ``_tb`` filter, whose
    ``pmod(xxhash64('term'), n)`` literals Catalyst folds before
    partition pruning, keeps them a PartitionFilter. The term filter
    a scorer adds still pushes into the buckets' row groups.

    Tombstoned doc_ids (point deletes, :func:`delete_postings`) are
    filtered OUT of the returned frame — a deleted document's physical
    posting rows stay in their immutable batches until
    :func:`compact_postings` rewrites them away, but no reader ever
    sees them, and the manifest's n_docs/sum_dl already exclude them,
    so idf/avgdl match a from-scratch build over the live corpus."""
    _v, m = _current(path, "read_postings")
    n_buckets = int(m["n_buckets"])
    if terms is None:
        postings = _batches_frame(spark, path, m)
    else:
        postings = (
            _batches_frame(spark, path, m, term_buckets(spark, terms, n_buckets))
            .filter(F.col("_tb").isin(
                [F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)) for t in terms]
            ))
            .drop("_tb")
        )
    tombstones = m.get("tombstones", [])
    if tombstones:
        # driver-held list, bounded by deletes-since-last-compaction —
        # a codegen'd NOT IN over the (already bucket-pruned) scan
        postings = postings.filter(~F.col("doc_id").isin(tombstones))
    n = int(m["n_docs"])
    sum_dl = int(m["sum_dl"])
    return (
        BM25Index(
            postings=postings,
            n_docs=n,
            avgdl=(sum_dl / n if n else 0.0),
            sum_dl=sum_dl,
        ),
        n_buckets,
    )


def delete_postings(
    spark,
    path: str,
    doc_ids: list[int],
    dl_by_doc: dict[int, int] | None = None,
) -> int:
    """Point-delete documents from a stored postings layout: the next
    manifest records the ids as TOMBSTONES (batches stay immutable —
    the delete is O(manifest), no bucket rewrite) and shrinks
    n_docs/sum_dl exactly, so every later query scores against live-
    corpus statistics. :func:`read_postings` hides tombstoned rows
    from all readers; :func:`compact_postings` physically purges them
    and clears the list.

    ``dl_by_doc`` — the victims' token counts — lets a caller that
    already has the document text (the engine's delete path reads the
    victim's row anyway) skip the (doc_id, dl) stats scan; otherwise it
    is recovered from the postings. Either way the requested ids are
    INTERSECTED with a doc_id scan of the stored postings first: a
    document uploaded after the last build/append has rows in the
    documents table but none in this index, and decrementing
    n_docs/sum_dl for it would corrupt the corpus stats (repeated
    deletes could drive n_docs negative, turning the idf's log argument
    negative → NULL → silently zeroed BM25 scores). Ids absent from the
    store are ignored — not tombstoned, not counted. A tombstoned id
    must not be re-appended before a compaction. Returns the number of
    newly tombstoned ids."""
    with versioned.lock(path):
        v, m = _current(path, "delete_postings")
        existing = set(m.get("tombstones", []))
        new_ids = sorted(set(int(i) for i in doc_ids) - existing)
        if not new_ids:
            return 0
        postings = _batches_frame(spark, path, m)
        # presence scan: doc_id only when the caller supplied the dls
        # (one pruned column off the parquet), (doc_id, dl) otherwise
        cols = ["doc_id"] if dl_by_doc is not None else ["doc_id", "dl"]
        rows = (
            postings.filter(F.col("doc_id").isin(new_ids))
            .select(*cols)
            .distinct()
            .collect()
        )
        if dl_by_doc is None:
            dl_by_doc = {r["doc_id"]: r["dl"] for r in rows}
        present = {int(r["doc_id"]) for r in rows}
        victims = [i for i in new_ids if i in present]
        if not victims:
            return 0
        removed_dl = sum(int(dl_by_doc.get(i, 0)) for i in victims)
        versioned.commit(
            path,
            v + 1,
            {
                **m,
                "n_docs": int(m["n_docs"]) - len(victims),
                "sum_dl": int(m["sum_dl"]) - removed_dl,
                "tombstones": sorted(existing | set(victims)),
            },
        )
        return len(victims)




def append_postings(delta: BM25Index, path: str) -> None:
    """Grow a stored postings layout incrementally: the delta corpus's
    postings become a NEW immutable batch, the next manifest references
    old batches + the new one, and the corpus scalars merge EXACTLY
    (integer n_docs / sum_dl addition) — so a store grown by appends
    scores bit-identically to one rebuilt from scratch over the union
    corpus, and a reader that resolved the previous version mid-append
    sees a complete, consistent old snapshot (postings AND stats move
    together with the pointer).

    Caller contract: the delta must contain only documents not already
    in the store (re-appending a doc_id would double its postings, and
    a TOMBSTONED id stays hidden until a compaction clears the list).
    Deleted documents are tombstoned by :func:`delete_postings`, so
    they neither surface nor waste rank slots."""
    if delta.sum_dl is None:
        raise ValueError("append_postings: delta index lacks sum_dl")
    with versioned.lock(path):
        v, m = _current(path, "append_postings")
        _commit_delta(delta, path, v, m, f"b{v + 1}", m.get("applied", []))


def _commit_delta(
    delta: BM25Index, path: str, v: int, m: dict, name: str, applied: list
) -> None:
    """Write ``delta`` as batch ``batches/{name}`` and commit version
    v + 1: the batch list grows, the corpus scalars add exactly, the
    tombstones and bucket count carry through."""
    rel = _write_batch_dir(delta.postings, path, f"batches/{name}", int(m["n_buckets"]))
    versioned.commit(
        path,
        v + 1,
        {
            **m,
            "batches": m["batches"] + [rel],
            "applied": applied,
            "n_docs": int(m["n_docs"]) + delta.n_docs,
            "sum_dl": int(m["sum_dl"]) + delta.sum_dl,
        },
    )


def append_postings_epoch(
    delta: BM25Index, path: str, epoch_id: int, stream_id: str = "default"
) -> bool:
    """Exactly-once streaming append: the delta batch writes to a
    directory keyed by (stream_id, epoch_id) and the manifest records
    the key in its ``applied`` list — a replayed epoch (foreachBatch
    re-runs after failure) finds its key applied and SKIPS, so postings
    and stats are added exactly once per epoch; a crash between the dir
    write and the commit is healed by the replay's overwrite of the
    unreferenced dir. ``applied`` memory survives rebuilds (a committed
    epoch's documents are inside the rebuilt corpus, so its replay must
    stay recognized), and ``stream_id`` — derive it from the checkpoint
    location — keeps a FRESH checkpoint's restarted epoch numbering
    from colliding with a previous stream's keys. Returns True if the
    epoch was applied, False for a recognized replay."""
    if delta.sum_dl is None:
        raise ValueError("append_postings_epoch: delta index lacks sum_dl")
    key = f"s{stream_id}-e{epoch_id}"
    with versioned.lock(path):
        v, m = _current(path, "append_postings_epoch")
        applied = m.get("applied", [])
        if key in applied:
            return False
        _commit_delta(delta, path, v, m, key, applied + [key])
        return True


def compact_postings(spark, path: str) -> None:
    """Collapse a many-batch store into ONE batch: streaming epochs
    fan the read-side union wide (one scan per batch dir), so a
    deployment periodically compacts — read the current snapshot,
    rewrite it as a single bucketed batch, commit (applied-epoch
    memory and corpus scalars carry through the commit). Tombstoned
    rows are physically purged here (read_postings filters them) and
    the tombstone list resets with the fresh manifest. The OPTIMIZE
    analog of the versioned tables' compact(); old batches stay until
    an aged vacuum reclaims them.

    The WHOLE read-snapshot -> commit sequence holds the store lock:
    an append/epoch landing between an unlocked read and the commit
    would be erased while its epoch key stayed in ``applied`` — a
    recognized-and-skipped replay, i.e. silent permanent loss. The
    lock serializes the compaction against writers instead (readers
    stay lock-free on their resolved snapshots)."""
    with versioned.lock(path):
        index, n_buckets = read_postings(spark, path)
        write_postings(index, path, n_buckets)


def vacuum_postings(
    path: str, keep_versions: int = 2, min_age_s: float = 0.0
) -> list[str]:
    """Drop manifests older than the ``keep_versions`` newest and
    delete batch directories no kept manifest references, each only
    ``min_age_s`` after a vacuum first observed it dereferenced
    (:func:`versioned.vacuum`). Rebuilds leave their predecessors'
    batches on disk by design (snapshot isolation for lock-free
    readers); this is the explicit reclaim. Direct unit-test callers
    default to 0 (immediate one-pass delete); the Engine passes its
    serving grace period, so reclamation completes on the SECOND
    maintenance pass after the grace. Returns removed paths."""
    if not versioned.exists(path):
        return []
    with versioned.lock(path):
        return versioned.vacuum(
            path, keep_versions, "batches", lambda m: m["batches"], min_age_s
        )


def bm25_search_stored(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 over the stored bucketed layout, scanning only the query
    terms' hash buckets (:func:`read_postings`' ``terms``)."""
    terms = sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    index, _ = read_postings(spark, path, terms)
    return bm25_search(index, query, k=k, k1=k1, b=b, allowed=allowed)

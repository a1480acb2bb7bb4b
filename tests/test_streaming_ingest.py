"""Streaming embedding ingest (streaming/ingest.py): stream-static
assignment must equal the batch assignment exactly; the sink must be
idempotent under replay; compaction must preserve rows while collapsing
files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.assign import assign_nearest
from go_vectorsearch_spark.plans.ivf import build_index
from go_vectorsearch_spark.sources.tables import load_table
from go_vectorsearch_spark.streaming.events import read_parquet_sink
from go_vectorsearch_spark.streaming.ingest import (
    compact_partitioned,
    ingest_embeddings_stream,
    read_embeddings_stream,
)


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings")


@pytest.fixture(scope="module")
def centroids(emb):
    return build_index(emb, max_leaf=100, sample_size=5000).centroids


def _assign_rows(df):
    return sorted(
        tuple(r) for r in df.select("vec_id", "centroid_id").collect()
    )


def test_stream_assignment_equals_batch(spark, sf_smoke, emb, centroids, tmp_path):
    out = str(tmp_path / "ingest_out")
    ingest_embeddings_stream(
        read_embeddings_stream(spark, sf_smoke),
        centroids,
        out,
        str(tmp_path / "ckpt"),
    )
    got = _assign_rows(read_parquet_sink(spark, out))
    want = _assign_rows(
        assign_nearest(emb, centroids, out_col="centroid_id")
    )
    assert got == want

    # replay with a fresh checkpoint: same rows, no duplicates
    ingest_embeddings_stream(
        read_embeddings_stream(spark, sf_smoke),
        centroids,
        out,
        str(tmp_path / "ckpt2"),
    )
    assert _assign_rows(read_parquet_sink(spark, out)) == want


def test_sink_prunes_centroid_partitions(spark, sf_smoke, centroids, tmp_path):
    """The streamed store must give the same partition pruning as the
    bulk store: a centroid_id filter shows PartitionFilters, not a full
    scan."""
    out = str(tmp_path / "prune_out")
    ingest_embeddings_stream(
        read_embeddings_stream(spark, sf_smoke),
        centroids,
        out,
        str(tmp_path / "prune_ckpt"),
    )
    one = centroids.select("centroid_id").first()[0]
    q = read_parquet_sink(spark, out).filter(F.col("centroid_id") == one)
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    pf = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "centroid_id" in pf


def test_compaction_preserves_rows_and_collapses_files(
    spark, sf_smoke, centroids, tmp_path
):
    out = str(tmp_path / "cmp_out")
    ingest_embeddings_stream(
        read_embeddings_stream(spark, sf_smoke),
        centroids,
        out,
        str(tmp_path / "cmp_ckpt"),
    )
    dst = str(tmp_path / "cmp_dst")
    compact_partitioned(spark, out, dst)
    got = _assign_rows(spark.read.parquet(dst))
    want = _assign_rows(read_parquet_sink(spark, out))
    assert got == want
    # one data file per centroid directory
    for d in os.listdir(dst):
        if not d.startswith("centroid_id="):
            continue
        files = [f for f in os.listdir(os.path.join(dst, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} has {len(files)} files"


def test_streaming_text_index_ingest_equals_batch_build(spark, sf_smoke, tmp_path):
    """Stream-grown postings == a batch build over the same corpus
    (seeded with an empty store, drained with AvailableNow), and a
    REPLAYED epoch is a no-op (exactly-once growth)."""
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings_epoch,
        bm25_search_stored,
        build_bm25_index,
        read_postings,
        write_postings,
    )
    from go_vectorsearch_spark.sources.tables import load_table
    from go_vectorsearch_spark.streaming.ingest import (
        ingest_documents_text_index,
        read_documents_stream,
    )

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    # seed: an EMPTY store (the build-first contract) — index over zero docs
    write_postings(build_bm25_index(docs.filter(F.lit(False))), store, n_buckets=8)

    q = ingest_documents_text_index(
        read_documents_stream(spark, sf_smoke),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    whole = str(tmp_path / "whole")
    write_postings(build_bm25_index(docs), whole, n_buckets=8)
    for qq in ("spark shuffle hash table", "catalyst"):
        g = [tuple(r) for r in bm25_search_stored(spark, store, qq, k=10).collect()]
        w = [tuple(r) for r in bm25_search_stored(spark, whole, qq, k=10).collect()]
        assert g == w, f"stream/batch divergence for {qq!r}"

    # replaying the drained epoch (same stream identity = same
    # checkpoint CONTENT — the persisted token) must change nothing
    import os

    with open(os.path.join(str(tmp_path / "ckpt"), "_gvs_stream_id")) as f:
        stream_id = f.read().strip()
    n_before = read_postings(spark, store)[0].n_docs
    applied = append_postings_epoch(
        build_bm25_index(docs), store, epoch_id=0, stream_id=stream_id
    )
    assert applied is False
    assert read_postings(spark, store)[0].n_docs == n_before


def test_epoch_memory_survives_rebuild_and_stream_ids_isolate(spark, tmp_path):
    """(a) A committed epoch replayed AFTER a rebuild is still
    recognized (the rebuilt corpus already contains its documents);
    (b) a different stream_id (fresh checkpoint) with the same epoch
    number is NOT confused with the old stream's epoch."""
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings_epoch,
        build_bm25_index,
        read_postings,
        write_postings,
    )

    all_docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta"), (3, "echo foxtrot")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_postings(build_bm25_index(all_docs.filter("doc_id = 1")), store, n_buckets=4)
    d2 = build_bm25_index(all_docs.filter("doc_id = 2"))
    assert append_postings_epoch(d2, store, 0, stream_id="sA") is True

    # rebuild over everything streamed so far (docs 1+2)
    write_postings(build_bm25_index(all_docs.filter("doc_id <= 2")), store, n_buckets=4)

    # (a) replay of sA epoch 0 after the rebuild: recognized, skipped
    assert append_postings_epoch(d2, store, 0, stream_id="sA") is False
    assert read_postings(spark, store)[0].n_docs == 2

    # (b) a NEW stream reusing epoch number 0 applies normally
    d3 = build_bm25_index(all_docs.filter("doc_id = 3"))
    assert append_postings_epoch(d3, store, 0, stream_id="sB") is True
    assert read_postings(spark, store)[0].n_docs == 3


def test_compact_postings_collapses_batches_and_keeps_memory(spark, tmp_path):
    """After several epoch appends, compaction rewrites the snapshot as
    ONE batch with identical search results, and a replayed old epoch
    is still recognized (applied memory carries through)."""
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings_epoch,
        bm25_search_stored,
        build_bm25_index,
        compact_postings,
        read_postings,
        write_postings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha bravo doc{i} common words here") for i in range(12)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_postings(build_bm25_index(docs.filter("doc_id < 4")), store, n_buckets=4)
    for e, lo in ((0, 4), (1, 8)):
        delta = build_bm25_index(
            docs.filter(f"doc_id >= {lo} and doc_id < {lo + 4}")
        )
        assert append_postings_epoch(delta, store, e, stream_id="s") is True

    before = [tuple(r) for r in bm25_search_stored(spark, store, "alpha common", k=12).collect()]
    from go_vectorsearch_spark.versioned import manifest as _store_manifest
    from go_vectorsearch_spark.versioned import version as _store_version

    assert len(_store_manifest(store, _store_version(store))["batches"]) == 3
    compact_postings(spark, store)
    m = _store_manifest(store, _store_version(store))
    assert len(m["batches"]) == 1
    after = [tuple(r) for r in bm25_search_stored(spark, store, "alpha common", k=12).collect()]
    assert after == before
    assert read_postings(spark, store)[0].n_docs == 12
    # epoch memory survived the compaction
    assert append_postings_epoch(
        build_bm25_index(docs.filter("doc_id >= 8")), store, 1, stream_id="s"
    ) is False


def test_recreated_checkpoint_is_a_fresh_stream_identity(spark, tmp_path):
    """Deleting and recreating a checkpoint at the SAME path (a routine
    ops reset) must mint a fresh stream identity: the restarted
    stream's epoch numbering begins at 0 again, and a path-derived
    stream_id would make every one of its micro-batches collide with
    the old stream's applied keys and be silently skipped — data loss
    with no error. The persisted token makes the second run apply."""
    import shutil

    from go_vectorsearch_spark.operators.fulltext import (
        build_bm25_index,
        read_postings,
        write_postings,
    )
    from go_vectorsearch_spark.streaming.ingest import (
        ingest_documents_text_index,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta")], "doc_id long, text string"
    ).write.parquet(src)
    stream = lambda: (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )

    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_postings(build_bm25_index(empty), store, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")

    q = ingest_documents_text_index(stream(), store, ckpt)
    q.awaitTermination(120)
    assert read_postings(spark, store)[0].n_docs == 2

    # ops reset: checkpoint wiped, same path — epochs restart at 0
    shutil.rmtree(ckpt)
    q2 = ingest_documents_text_index(stream(), store, ckpt)
    q2.awaitTermination(120)
    # the fresh identity APPLIES (old behavior: recognized-as-replay
    # skip -> still 2). Double docs are the caller's dedup concern;
    # identity collision must not silently drop them.
    assert read_postings(spark, store)[0].n_docs == 4


def test_pre_token_checkpoint_resumes_under_legacy_stream_id(spark, tmp_path):
    """A checkpoint created BEFORE the token scheme has Spark state
    (offsets/) but no _gvs_stream_id. The first post-upgrade resume
    must seed the token with the legacy md5(abspath)[:8] id its epochs
    were applied under — minting a fresh random id would let a replayed
    in-flight epoch re-apply and double those documents' postings."""
    import hashlib

    from go_vectorsearch_spark.versioned import manifest as _store_manifest
    from go_vectorsearch_spark.versioned import version as _store_version
    from go_vectorsearch_spark.operators.fulltext import (
        build_bm25_index,
        read_postings,
        write_postings,
    )
    from go_vectorsearch_spark.streaming.ingest import (
        ingest_documents_text_index,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta")], "doc_id long, text string"
    ).write.parquet(src)
    stream = lambda: (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )

    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_postings(build_bm25_index(empty), store, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    legacy_id = hashlib.md5(os.path.abspath(ckpt).encode()).hexdigest()[:8]

    # run once to create real checkpoint state, then strip the token —
    # exactly what a pre-upgrade checkpoint directory looks like
    q = ingest_documents_text_index(stream(), store, ckpt)
    q.awaitTermination(120)
    assert read_postings(spark, store)[0].n_docs == 2
    os.unlink(os.path.join(ckpt, "_gvs_stream_id"))
    assert os.path.isdir(os.path.join(ckpt, "offsets"))

    q2 = ingest_documents_text_index(stream(), store, ckpt)
    q2.awaitTermination(120)
    # token seeded with the LEGACY id, not a fresh random one
    with open(os.path.join(ckpt, "_gvs_stream_id")) as f:
        assert f.read().strip() == legacy_id
    # resumed checkpoint, no new source data: nothing re-applies
    assert read_postings(spark, store)[0].n_docs == 2
    assert _store_manifest(store, _store_version(store))["n_docs"] == 2

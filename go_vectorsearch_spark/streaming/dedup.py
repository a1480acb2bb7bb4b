"""Streaming exact deduplication over a documents stream.

A continuously-ingesting corpus wants dedup at ingest time, not as a
nightly batch: the first copy of a document passes through, later copies
are dropped. Spark expresses this as ``dropDuplicates`` on a content
hash over a streaming DataFrame — state is one row per distinct hash in
the state store (RocksDB on a real cluster).

Survivor semantics — stated precisely: the FIRST-ARRIVING copy wins
(the right contract for ingest: the earliest ingested copy is already
stored/served downstream and cannot be retroactively swapped), whereas
the batch ``exact_dedup`` keeps the MIN-ID copy. The surviving
distinct-TEXT set is always identical; the surviving IDs coincide when
duplicates arrive in id order (the ordered-fixture equality
tests/test_streaming.py asserts) and may differ otherwise — consumers
that need id-deterministic survivors run the batch operator over the
settled corpus.

Scale notes (100 TB design point):
  * State is keyed by the 32-hex md5 only (no text) — ~50 bytes/row, so
    a billion distinct documents is ~50 GB of state, spread across the
    state store's shuffle partitions. The document text never enters
    state.
  * For unbounded streams where exact forever-dedup state is too large,
    ``within_watermark`` bounds state by event-time horizon via
    ``dropDuplicatesWithinWatermark`` — the standard trade: duplicates
    separated by more than the horizon pass through, state stays
    bounded. The reference engine has no streaming surface at all
    (SURVEY.md §2.10); both variants are engine extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source documents stream, one micro-batch per file (the
    shared ingest._read_table_stream reader — one definition of the
    basePath+glob trick)."""
    from go_vectorsearch_spark.streaming.ingest import _read_table_stream

    return _read_table_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1
    )


def exact_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    within_watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Keep the first-arriving document per distinct ``text_col`` content.

    ``within_watermark=(ts_col, delay)`` switches to
    ``dropDuplicatesWithinWatermark`` for bounded state on unbounded
    streams; the default keeps exact forever-state (correct whenever the
    distinct-hash count fits the state store, i.e. most corpus builds).
    """
    hashed = docs.withColumn("_text_md5", F.md5(F.col(text_col)))
    if within_watermark is not None:
        ts_col, delay = within_watermark
        return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["_text_md5"]
        )
    return hashed.dropDuplicates(["_text_md5"])


def neardup_filter_stream(
    docs_stream: DataFrame,
    band_store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming NEAR-duplicate filter with persisted band-store memory —
    the streaming twin of api.Engine.upload(neardup="skip").

    Each micro-batch is checked against everything the stream has ever
    admitted: MinHash band keys of the batch join the band store
    (manifest-versioned, band-key-bucket partitioned — only colliding
    buckets are read), candidates verify with exact hashed-shingle
    Jaccard against the ADMITTED corpus text in ``out_dir``, in-batch
    near-dups collapse to their smallest id, and the survivors land in
    ``out_dir`` with their band rows appended to the store. State is
    4 short rows per admitted document ON DISK (not in the state
    store), so the memory is unbounded-stream-safe and shared with any
    batch reader of the same store.

    Replay idempotence falls out of the semantics rather than an
    applied-keys ledger: a fully-replayed epoch's documents match their
    own first application at Jaccard 1.0 and drop. The two appends are
    ordered bands-FIRST so a crash between them re-EMITS documents on
    replay instead of losing them (orphan band rows are harmless: the
    text verify joins the admitted corpus, and a candidate without
    stored text is discarded — the same self-healing as the engine's
    deleted-document case). At-least-once, erring toward re-emission,
    like every foreachBatch sink here.

    Returns the started StreamingQuery (AvailableNow trigger).
    """
    from go_vectorsearch_spark import persist
    from go_vectorsearch_spark.api import N_BAND_BUCKETS, _VersionedTable
    from go_vectorsearch_spark.operators import dedup as DD
    from go_vectorsearch_spark.streaming import require_local_path

    # all three directories are consumed through os.path (store
    # pointer probes, parquet-file detection) — a remote URI would silently
    # disable the cross-batch verify or plant the band store on the
    # driver's local disk, so refuse loudly like the ingest module
    require_local_path(checkpoint_dir, "neardup_filter_stream checkpoint_dir")
    require_local_path(band_store_dir, "neardup_filter_stream band_store_dir")
    require_local_path(out_dir, "neardup_filter_stream out_dir")
    spark = docs_stream.sparkSession
    import os as _os

    parent, name = _os.path.split(_os.path.abspath(band_store_dir))
    bands_t = _VersionedTable(
        spark,
        parent,
        name,
        "doc_id long, band int, key string",
        partition_expr=(
            "pmod(CAST(conv(substr(key, 1, 8), 16, 10) AS BIGINT), "
            f"{N_BAND_BUCKETS})"
        ),
    )

    def _has_parquet(path: str) -> bool:
        return _os.path.isdir(path) and any(
            f.endswith(".parquet")
            for _r, _d, fs in _os.walk(path)
            for f in fs
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df
        with persist.Scope() as scope:
            shingled = scope.hold(DD.shingled_docs(batch, id_col=id_col, text_col=text_col))
            new_bands = scope.hold(DD.stored_band_rows(shingled))
            drop_ids = set()
            # 1) against the admitted corpus (band store + out_dir text)
            if bands_t.exists():
                keys = [
                    r["key"] for r in new_bands.select("key").distinct().collect()
                ]
                if keys:
                    buckets = sorted(
                        {int(k[:8], 16) % N_BAND_BUCKETS for k in keys}
                    )
                    nb = new_bands.select(
                        F.col("doc_id").alias("_nid"), "band", "key"
                    )
                    st = bands_t.read(partition_values=buckets).select(
                        F.col("doc_id").alias("_sid"), "band", "key"
                    )
                    # candidates are bounded by batch x band collisions —
                    # collect ONCE and reuse the literal rows for the id
                    # pruning and the verify join (the engine's
                    # neardup_check shape); joining the verify above an
                    # unpruned shingle pass would re-tokenize the WHOLE
                    # admitted corpus every micro-batch
                    cand_rows = (
                        nb.join(st, ["band", "key"])
                        .select("_nid", "_sid")
                        .distinct()
                        .collect()
                    )
                    admitted = (
                        spark.read.parquet(out_dir)
                        if cand_rows and _has_parquet(out_dir)
                        else None
                    )
                    if admitted is not None:
                        cand = spark.createDataFrame(
                            cand_rows, "_nid long, _sid long"
                        )
                        sids = sorted({r["_sid"] for r in cand_rows})
                        stored_sh = DD.shingled_docs(
                            admitted.filter(F.col(id_col).isin(sids)),
                            id_col=id_col,
                            text_col=text_col,
                        ).select(
                            F.col("_id").alias("_sid"),
                            F.col("_sh").alias("_shb"),
                        )
                        new_sh = shingled.select(
                            F.col("_id").alias("_nid"),
                            F.col("_sh").alias("_sha"),
                        )
                        inter = F.size(
                            F.array_intersect("_sha", "_shb")
                        ).cast("double")
                        jac = inter / (
                            F.size("_sha") + F.size("_shb") - inter
                        ).cast("double")
                        drop_ids = {
                            r["_nid"]
                            for r in cand.join(new_sh, "_nid")
                            .join(stored_sh, "_sid")
                            .filter(jac >= threshold)
                            .select("_nid")
                            .distinct()
                            .collect()
                        }
            # 2) within the batch: a near-dup of a smaller SURVIVING id drops
            pair_rows = sorted(
                (int(r["id_a"]), int(r["id_b"]))
                for r in DD.minhash_lsh_pairs(
                    batch.select(id_col, text_col),
                    id_col=id_col,
                    text_col=text_col,
                    threshold=threshold,
                    # the batch's shingle pass is already held above
                    shingled=shingled,
                ).collect()
            )
            peers: dict[int, list[int]] = {}
            for a, b in pair_rows:
                peers.setdefault(b, []).append(a)
            for b in sorted(peers):
                if b in drop_ids:
                    continue
                if any(a not in drop_ids for a in sorted(peers[b])):
                    drop_ids.add(b)
            survivors = batch.filter(~F.col(id_col).isin(list(drop_ids))) \
                if drop_ids else batch
            surv_bands = (
                new_bands.filter(~F.col("doc_id").isin(list(drop_ids)))
                if drop_ids
                else new_bands
            )
            # guard on SURVIVORS, not their band rows: a shingle-less
            # document (< n tokens) is always novel, produces no band
            # rows, and must still be emitted — an empty-band early
            # return would drop it forever once the epoch commits
            if survivors.isEmpty():
                return
            # bands FIRST (see docstring: crash between the appends must
            # re-emit, never lose); skip only the band WRITE when the
            # surviving docs contributed no rows
            if bands_t.exists():
                if not surv_bands.isEmpty():
                    bands_t.append(surv_bands)
            else:
                bands_t.write(surv_bands)
            survivors.write.mode("append").parquet(out_dir)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming boilerplate-line strip over a documents stream.

The batch operator (operators/curation.strip_boilerplate_lines, CCNet
§4.1) cuts every line whose normalized form appears in >= min_df
DISTINCT documents. The document-frequency signal is corpus-level, so a
STREAM cannot compute it from the rows in flight without unbounded
state; the deployment shape is the one every production line-dedup uses
(CCNet itself computes hashes over a static crawl snapshot): the hot
set is FIT OFFLINE on a corpus snapshot (operators/curation.
boilerplate_lines — one groupBy over 16-byte line hashes, refreshed on
whatever cadence the corpus drifts), and ingest APPLIES it at the door.

Why this is trivially unbounded-stream-safe: the only state is the
static hot-line frame, persisted once at stream start (hash + count per
boilerplate line — MB-scale for crawl-scale corpora); each micro-batch
strips independently via the same hot-set FRAME join as the batch
operator (never a collected literal), with no cross-batch memory, no
state store, no watermark. Replay semantics match every foreachBatch
sink here: stateless per batch, at-least-once parquet append,
downstream exact-dedup or a table-format sink collapses replays.

The reference engine has no streaming surface at all (SURVEY.md §2.10);
this composes the r10 curation operator with Structured Streaming the
same way streaming/decontaminate.py composes the substring machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def strip_boilerplate_stream(
    docs_stream: DataFrame,
    hot: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start a streaming boilerplate-line strip (AvailableNow trigger).

    ``hot`` is a STATIC :func:`~go_vectorsearch_spark.operators.curation.
    boilerplate_lines` frame ``(_lh, n_docs)`` fit on a corpus snapshot.
    Emits ``(id_col, text)`` for every input document — untouched
    documents round-trip byte-exact (the batch operator's split/join
    contract), an all-boilerplate document emits ``''``. Returns the
    started StreamingQuery.
    """
    from go_vectorsearch_spark import persist
    from go_vectorsearch_spark.operators.curation import (
        strip_boilerplate_lines,
    )
    from go_vectorsearch_spark.streaming import require_local_path

    require_local_path(checkpoint_dir, "strip_boilerplate_stream checkpoint_dir")
    require_local_path(out_dir, "strip_boilerplate_stream out_dir")

    # the static side lives as long as the stream: the session holds it
    hot_static = persist.session_scope(hot.sparkSession).hold(hot.select("_lh"))
    hot_static.count()  # materialize once, before the first batch

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = strip_boilerplate_lines(
            batch_df, id_col=id_col, text_col=text_col, hot=hot_static
        )
        # write unconditionally — an empty append is harmless, while an
        # isEmpty() pre-check would execute the strip plan twice per
        # micro-batch (the decontaminate sink's documented lesson)
        out.write.mode("append").parquet(out_dir)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

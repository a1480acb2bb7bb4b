"""Streaming benchmark decontamination over a documents stream.

A continuously-ingesting training corpus wants decontamination at the
door, not as a nightly batch: a document quoting an eval-suite item
either loses the quoted passage ("cut", the default — most contaminated
documents are fine outside the quote) or is rejected whole ("drop")
BEFORE it lands in the admitted corpus. The batch operators already
reduce decontamination to fixed-width window-hash matching against a
broadcastable benchmark set (operators/substr.contaminated_spans /
decontaminate_cut — Lee et al. 2021 restated without the suffix array);
the streaming form is the same map-side semi-join run per micro-batch.

Why this is trivially unbounded-stream-safe: the ONLY state is the
static benchmark's window-hash/token frame, persisted once at stream
start (an eval suite is MB-scale), and each micro-batch is checked
independently — no cross-batch memory, no state store, no watermark.
That is exactly the property the batch operator's broadcast design was
chosen for: the corpus side never shuffles, so "corpus" may as well
arrive in pieces.

Replay semantics: the sink is stateless per batch and the parquet
append is at-least-once (a replayed epoch re-appends its rows) — the
same contract as every foreachBatch sink here; downstream exact-dedup
(streaming/dedup.exact_dedup_stream keyed on the emitted text) or a
table-format sink collapses replays. The reference engine has no
streaming surface at all (SURVEY.md §2.10); this is an engine extension
composing the §E substring machinery with Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decontaminate_filter_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    L: int = 8,
    mode: str = "cut",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
):
    """Start a streaming decontamination filter (AvailableNow trigger).

    ``benchmark`` is a STATIC DataFrame of eval-suite texts. ``mode``:

    * ``"cut"`` — every contaminated span is cut, the document is kept
      (operators/substr.decontaminate_cut per micro-batch); emits
      (id_col, text) for every input document, clean ones verbatim.
    * ``"drop"`` — any document containing a >= L-token verbatim
      benchmark window is rejected whole; emits the input columns of
      the surviving documents unchanged.

    The benchmark's token frame (and, for drop mode, its distinct
    window-hash set) is computed ONCE and persisted for the stream's
    lifetime — each micro-batch pays only its own window hashing plus a
    broadcast semi-join. Returns the started StreamingQuery.
    """
    from go_vectorsearch_spark import persist
    from go_vectorsearch_spark.operators import substr as SUB
    from go_vectorsearch_spark.operators.dedup import tokenized_docs
    from go_vectorsearch_spark.streaming import require_local_path

    if mode not in ("cut", "drop"):
        raise ValueError(
            f"decontaminate_filter_stream: unknown mode {mode!r} "
            "(expected 'cut' or 'drop')"
        )
    require_local_path(checkpoint_dir, "decontaminate_filter_stream checkpoint_dir")
    require_local_path(out_dir, "decontaminate_filter_stream out_dir")
    # the static side lives as long as the stream: the session holds it
    session = persist.session_scope(benchmark.sparkSession)
    bench_toks = session.hold(
        tokenized_docs(benchmark, bench_id_col, bench_text_col)
    )
    bench_toks.count()  # materialize once, before the first batch
    bench_hashes = None
    if mode == "drop":
        bench_hashes = session.hold(
            SUB.window_hashes(
                benchmark, L, bench_id_col, bench_text_col, tokenized=bench_toks
            )
            .select("_wh")
            .distinct()
        )
        bench_hashes.count()

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if mode == "drop":
            hits = (
                SUB.window_hashes(batch_df, L, id_col, text_col)
                .join(F.broadcast(bench_hashes), "_wh", "left_semi")
                .select(F.col("_id").alias(id_col))
                .distinct()
            )
            out = batch_df.join(hits, id_col, "left_anti")
        else:
            out = SUB.decontaminate_cut(
                batch_df,
                benchmark,
                L=L,
                id_col=id_col,
                text_col=text_col,
                bench_id_col=bench_id_col,
                bench_text_col=bench_text_col,
                bench_tokenized=bench_toks,
            )
        # write unconditionally: an empty append is harmless, while an
        # isEmpty() pre-check would execute the cut plan a second time
        # per micro-batch (isEmpty runs the plan to first row; the
        # append then recomputes it)
        out.write.mode("append").parquet(out_dir)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

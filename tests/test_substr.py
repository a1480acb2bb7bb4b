"""Exact-substring dedup semantics on planted corpora (operators/substr.py).

The oracle-parity suite (tests/test_parity.py `dedup_exact_substr`) checks
DuckDB equality on the fixture tables; these tests pin the *semantics* on
controlled inputs against a structurally independent naive reference —
the same two-sided strategy as tests/test_dedup_text.py.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators import substr as S

L = 4  # small windows so hand-sized docs exercise every path

# A 12-token passage shared by docs 1 and 2 at DIFFERENT offsets, plus a
# doc that repeats its own passage, plus a too-short doc, plus a unique doc.
SHARED = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
DOCS = [
    (1, f"{SHARED} tail one two three"),
    (2, f"lead in words here {SHARED}"),
    (3, "self repeat block goes here self repeat block goes here pad pad"),
    (4, "too short"),
    (5, "entirely unique content with no duplicated windows at all present"),
]


# -- naive reference --------------------------------------------------------


def _naive_windows(docs, l):
    out = []  # (doc, pos1based, hash)
    for did, text in docs:
        toks = text.lower().split()
        for i in range(len(toks) - l + 1):
            h = hashlib.md5(" ".join(toks[i : i + l]).encode()).hexdigest()
            out.append((did, i + 1, h))
    return out


def _naive_dup_positions(docs, l):
    wins = _naive_windows(docs, l)
    from collections import Counter

    freq = Counter(h for _, _, h in wins)
    return [(d, p) for d, p, h in wins if freq[h] > 1]


def _naive_spans(docs, l):
    """dict doc -> list[(s_pos, e_pos, n_windows)] merged like the operator."""
    by_doc = {}
    for d, p in sorted(_naive_dup_positions(docs, l)):
        by_doc.setdefault(d, []).append(p)
    spans = {}
    for d, ps in by_doc.items():
        cur = None
        for p in ps:
            if cur is None or p > cur[1] + 1:  # gap past the running end
                if cur:
                    spans.setdefault(d, []).append(cur)
                cur = [p, p + l - 1, 1]
            else:
                cur[1] = max(cur[1], p + l - 1)
                cur[2] += 1
        if cur:
            spans.setdefault(d, []).append(cur)
    return spans


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_window_hashes_positions(spark, docs):
    rows = S.window_hashes(docs, L).collect()
    naive = _naive_windows(DOCS, L)
    assert len(rows) == len(naive)
    got = {(r["_id"], r["pos"], r["_wh"].hex()) for r in rows}
    assert got == set(naive)


def test_spans_match_naive(spark, docs):
    got = {}
    for r in S.exact_substr_spans(docs, L).collect():
        got.setdefault(r["_id"], []).append(
            [r["s_pos"], r["e_pos"], r["n_windows"]]
        )
    for v in got.values():
        v.sort()
    naive = _naive_spans(DOCS, L)
    assert got == {d: sorted(v) for d, v in naive.items()}
    # the shared passage is found in BOTH docs at their distinct offsets
    assert got[1][0][0] == 1  # doc 1: passage starts at token 1
    assert got[2][0][0] == 5  # doc 2: same passage after a 4-token lead
    # the self-repeating doc is flagged from within one document
    assert 3 in got
    # short and unique docs are absent
    assert 4 not in got and 5 not in got


def test_stats_totals(spark, docs):
    stats = {r["doc_id"]: r for r in S.exact_substr_stats(docs, L).collect()}
    naive = _naive_spans(DOCS, L)
    assert set(stats) == set(naive)
    for d, spans in naive.items():
        assert stats[d]["n_spans"] == len(spans)
        assert stats[d]["dup_tokens"] == sum(e - s + 1 for s, e, _ in spans)
        assert stats[d]["n_dup_windows"] == sum(n for _, _, n in spans)


def test_cut_keeps_one_copy(spark, docs):
    cut = {r["doc_id"]: r["text"] for r in S.exact_substr_cut(docs, L).collect()}
    # every doc still present; untouched docs round-trip their token stream
    assert set(cut) == {d for d, _ in DOCS}
    assert cut[4] == "too short"
    assert cut[5] == DOCS[4][1]
    # the keeper occurrence (globally smallest (doc, pos) per window —
    # doc 1's copy of the shared passage) survives verbatim...
    assert SHARED in cut[1]
    # ...and the non-keeper copy in doc 2 is gone
    assert SHARED not in cut[2]
    assert cut[2].startswith("lead in words here")
    # the self-repeating doc keeps its first occurrence only
    assert cut[3].count("self repeat block goes here") == 1
    # after the cut, the planted corpus has no duplicated windows left
    cleaned = spark.createDataFrame(
        list(cut.items()), "doc_id long, text string"
    )
    assert S.duplicated_windows(S.window_hashes(cleaned, L)).count() == 0


def test_cut_fixpoint_catches_chained_duplicates(spark):
    """Cutting can create new token adjacencies that only a later pass
    sees: doc 30's X-run is cut in pass 1 (keeper in doc 10), which
    joins its p/q fragments into a window duplicating doc 20 — caught
    only at iterate > 1. L=4; p/q fragments are each 3 tokens, so no
    pass-1 window contains them both sides of the X-run."""
    rows = [
        (10, "x1 x2 x3 x4"),                      # keeper of the X-run
        (20, "p1 p2 p3 q1"),                      # keeper of the chain window
        (30, "p1 p2 p3 x1 x2 x3 x4 q1"),          # cut -> "p1 p2 p3 q1" -> cut again
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = {r["doc_id"]: r["text"] for r in S.exact_substr_cut(df, 4).collect()}
    assert one[30] == "p1 p2 p3 q1"  # the single pass leaves the chained dup
    fix = {
        r["doc_id"]: r["text"]
        for r in S.exact_substr_cut(df, 4, iterate=5).collect()
    }
    assert fix[10] == rows[0][1] and fix[20] == rows[1][1]  # keepers intact
    assert fix[30] == ""  # chained duplicate fully removed at fixpoint
    # the fixpoint corpus is clean
    cleaned = spark.createDataFrame(list(fix.items()), "doc_id long, text string")
    assert S.duplicated_windows(S.window_hashes(cleaned, 4)).count() == 0
    with pytest.raises(ValueError, match="iterate"):
        S.exact_substr_cut(df, 4, iterate=0)


def test_cut_fixpoint_sees_normalization_created_windows(spark):
    """The r9 pre-normalization gap, closed: a cut that removes a
    document's FINAL period-bearing token re-normalizes the new last
    token ('b4' -> 'b4.'), which can create a duplicated window that
    exists only in the STORED form. With normalize= the fixpoint
    windows each pass's storage-form text, so the window is seen and
    cut before convergence; without it, the fixpoint converges on the
    un-normalized text and the window survives to storage."""
    from go_vectorsearch_spark.operators.documents import (
        format_rejoined_text,
        format_text_udf,
    )

    rows = [
        # keeper of P = "p1 p2 p3 p4." (mid-document, never cut)
        (1, "a1 a2 a3 p1 p2 p3 p4. a4 a5 a6."),
        # P at the END: pass 1 cuts it, leaving "b1 b2 b3 b4" whose
        # normalized form "b1 b2 b3 b4." duplicates a window of doc 3
        (2, "b1 b2 b3 b4 p1 p2 p3 p4."),
        (3, "c1 c2 b1 b2 b3 b4. c3 c4 c5."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # WITHOUT normalize (the registry/oracle form): the fixpoint
    # converges on "b1 b2 b3 b4" and doc 3 keeps the passage — the
    # stored (normalized) corpus then still carries one duplicated
    # window, pinning the gap the hook exists to close
    raw = {
        r["doc_id"]: r["text"]
        for r in S.exact_substr_cut(df, 4, iterate=5).collect()
    }
    assert raw[2] == "b1 b2 b3 b4" and raw[3] == rows[2][1]
    stored = spark.createDataFrame(
        list(raw.items()), "doc_id long, text string"
    ).select("doc_id", format_text_udf(F.col("text")).alias("text"))
    assert S.duplicated_windows(S.window_hashes(stored, 4)).count() > 0

    # WITH normalize (the Engine form): pass 2 sees the re-normalized
    # window, cuts doc 3's non-keeper occurrence, and the converged
    # corpus IS its stored form — zero duplicated windows remain
    fixed = {
        r["doc_id"]: r["text"]
        for r in S.exact_substr_cut(
            df, 4, iterate=5, normalize=format_rejoined_text
        ).collect()
    }
    assert fixed[1] == rows[0][1]          # keeper verbatim
    assert fixed[2] == "b1 b2 b3 b4."      # normalized inside the loop
    assert fixed[3] == "c1 c2 c3 c4 c5."   # normalization-created dup cut
    clean = spark.createDataFrame(list(fixed.items()), "doc_id long, text string")
    assert S.duplicated_windows(S.window_hashes(clean, 4)).count() == 0


def _naive_cut_once(docs: dict[int, str], L: int) -> dict[int, str]:
    """Pure-Python reference of one keeper-protected cut pass: window
    token-range UNION equals the islands' span cover (windows merge iff
    they overlap or touch, so the merged span is exactly their union),
    letting the reference skip the span machinery entirely."""
    toks = {d: t.split() for d, t in docs.items()}
    wins: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - L + 1):
            wins.setdefault(" ".join(ts[i : i + L]), []).append((d, i + 1))
    rm = {d: set() for d in docs}
    kp = {d: set() for d in docs}
    for occ in wins.values():
        if len(occ) < 2:
            continue
        keeper = min(occ)
        for d, p in occ:
            (kp if (d, p) == keeper else rm)[d].update(range(p, p + L))
    out = {}
    for d, ts in toks.items():
        cut = rm[d] - kp[d]
        if not cut:
            # verbatim passthrough — including removable spans entirely
            # keeper-covered (nothing is EFFECTIVELY cut; the r9 gate)
            out[d] = docs[d]
        else:
            out[d] = " ".join(t for i, t in enumerate(ts, 1) if i not in cut)
    return out


@pytest.mark.slow
def test_cut_matches_naive_on_random_corpora(spark):
    """exact_substr_cut == the naive reference on random tiny-vocab
    corpora (dense duplicate structure, chains included), for both the
    single pass and the fixpoint. Seeded RNG — deterministic."""
    import random

    L3 = 3
    for seed in range(6):
        rng = random.Random(seed)
        docs = {
            d: " ".join(
                rng.choice("a b c".split()) for _ in range(rng.randint(1, 12))
            )
            for d in range(1, 7)
        }
        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        want1 = _naive_cut_once(docs, L3)
        naive_fix = docs
        for _ in range(10):
            nxt = _naive_cut_once(naive_fix, L3)
            if nxt == naive_fix:
                break
            naive_fix = nxt
        # three engine configurations, one truth (r13): the distributed
        # pass, the adaptive driver-local path, and the gate
        # overflowing back to distributed at local_max_docs
        for kw in (
            dict(_force_distributed=True),
            dict(),
            dict(local_max_docs=3),
        ):
            got1 = {
                r["doc_id"]: r["text"]
                for r in S.exact_substr_cut(df, L3, **kw).collect()
            }
            assert got1 == want1, f"seed {seed} single pass {kw}"
            got_fix = {
                r["doc_id"]: r["text"]
                for r in S.exact_substr_cut(df, L3, iterate=10, **kw).collect()
            }
            assert got_fix == naive_fix, f"seed {seed} fixpoint {kw}"


def test_skewed_boilerplate_hot_key_bounded(spark):
    """Adversarial skew: ONE passage duplicated across every document
    puts all its occurrences behind a single ``_wh`` key in
    duplicate_flags' groupBy + join-back (substr.py). The protections
    are structural, so this pins the PLAN SHAPE instead of a wall-clock
    ratio (r10 advice: a timing assert flakes on a loaded host even
    when the shape is right; the measured decade figures live in
    BASELINE.md):
      (a) map-side combine on the _wh groupBy — partial aggregation
          collapses the hot key to one row per input partition before
          the shuffle, so no reducer receives all N occurrences raw;
      (b) the join-back's dup side is the HAVING count>1 aggregate —
          one row per DISTINCT hash, never per occurrence, so the
          probe side is bounded by distinct-hash cardinality and AQE
          broadcasts it while small;
      (c) the islands window partitions on the high-cardinality _id,
          never on _wh — the hot hash cannot serialize the span merge.
    Correctness on the skewed corpus stays asserted, at a size small
    enough that the test is never time-bound."""
    import re

    N = 4_000
    boiler = "this boilerplate footer appears verbatim in every single document"
    clean = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h u{i}i") for i in range(N)]
    skewed = [(i, f"u{i}a u{i}b u{i}c u{i}d {boiler}") for i in range(N)]

    def run(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
        out = S.exact_substr_stats(df, 8)
        return out.count(), out._jdf.queryExecution().executedPlan().toString()

    n_clean, _ = run(clean)
    n_skew, plan = run(skewed)
    assert n_clean == 0            # unique corpus: nothing flagged
    assert n_skew == N             # every doc carries the hot passage
    # (a) partial aggregation on the window-hash key
    assert re.search(
        r"HashAggregate\(keys=\[_wh#\d+\], functions=\[partial_count", plan
    ), plan
    # (b) dup side = distinct-hash aggregate behind the count>1 filter
    assert re.search(r"Filter \(_c#\d+L? > 1\)", plan), plan
    # (c) every window in the plan partitions by _id, never _wh
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "_id" for s in specs), plan


def test_cut_preserves_original_case(spark):
    # hashing is case-insensitive (family tokenizer), reconstruction is not
    d = spark.createDataFrame(
        [(1, "Alpha BETA gamma DELTA epsilon"), (2, "alpha beta GAMMA delta unique")],
        "doc_id long, text string",
    )
    cut = {r["doc_id"]: r["text"] for r in S.exact_substr_cut(d, L).collect()}
    assert cut[1] == "Alpha BETA gamma DELTA epsilon"  # keeper, original case
    assert cut[2] == "unique"  # duplicated window cut, case kept


def test_fully_keeper_covered_doc_keeps_bytes(spark):
    """A document whose removable spans are ENTIRELY keeper-covered has
    nothing effectively cut and must pass through byte-for-byte,
    newline intact — the passthrough gates on the effective cut set
    (size(_cuts)==0), not on the existence of removable spans (the _rm
    gate whitespace-normalized exactly this case; r9 self-review)."""
    L8 = 8
    d_text = "u a b c\nd e f g h v"
    docs = [
        (1, "a b c d e f g h"),  # keeper of doc 2's pos-2 window
        (2, d_text),  # removable [2,9] fully inside its keeper span [1,10]
        (3, "u a b c d e f g qq b c d e f g h v"),  # doc 2 keeps pos-1/pos-3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cut = {r["doc_id"]: r["text"] for r in S.exact_substr_cut(df, L8).collect()}
    assert cut[2] == d_text
    assert cut == _naive_cut_once(dict(docs), L8)


def test_cut_long_doc_many_spans_linear(spark):
    """The token filter stays linear on a LONG document dense with
    spans (the pathological shape for a per-token exists scan over the
    span arrays: here ~56k tokens with ~10k interleaved removable AND
    keeper spans — O(tokens × spans) would be ~5×10⁸ struct probes per
    array). The merge-rank interval subtraction + gap-slice rebuild
    (operators/substr._subtract_spans) must complete in bounded time
    with output identical to the naive reference."""
    import time

    k, L4 = 3500, 4
    phr = lambda tag, i: " ".join(f"{tag}{i}w{t}" for t in range(L4))  # noqa: E731
    # doc 1 holds the keeper copies of P_i; doc 2 interleaves removable
    # P_i copies with its OWN twice-occurring Q_i (first copy = keeper
    # span IN doc 2, tail copy = removable) — so doc 2's rm and kp
    # arrays are both span-dense and interleaved
    d1 = " ".join(f"a{i} {phr('p', i)}" for i in range(k))
    d2 = (
        " ".join(f"b{i} {phr('p', i)} c{i} {phr('q', i)}" for i in range(k))
        + " "
        + " ".join(f"d{i} {phr('q', i)}" for i in range(k))
    )
    docs = {1: d1, 2: d2}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    t0 = time.perf_counter()
    got = {
        r["doc_id"]: r["text"]
        for r in S.exact_substr_cut(df, L4).collect()
    }
    elapsed = time.perf_counter() - t0
    assert got == _naive_cut_once(docs, L4)
    # generous CI bound — the quadratic filter takes tens of minutes here
    assert elapsed < 120, f"long-doc cut took {elapsed:.0f}s"


def test_no_python_in_plan(spark, docs):
    plan = (
        S.exact_substr_stats(docs, L)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


# -- span-level decontamination ----------------------------------------------

BENCH_ITEM = "question what is the capital of france answer paris obviously"


def test_contaminated_spans_and_cut(spark):
    corpus = spark.createDataFrame(
        [
            (1, f"some web page text quoting {BENCH_ITEM} and then more prose"),
            (2, "a perfectly clean document with no benchmark overlap at all"),
            (3, BENCH_ITEM),  # the benchmark item verbatim
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, BENCH_ITEM)], "doc_id long, text string"
    )
    spans = {
        r["_id"]: (r["s_pos"], r["e_pos"])
        for r in S.contaminated_spans(corpus, bench, L).collect()
    }
    # doc 1 quotes the 10-token item after a 5-token lead -> tokens 6..15
    assert spans[1] == (6, 15)
    assert spans[3] == (1, 10)
    assert 2 not in spans

    cut = {r["doc_id"]: r["text"] for r in S.decontaminate_cut(corpus, bench, L).collect()}
    assert BENCH_ITEM not in cut[1]
    assert cut[1] == "some web page text quoting and then more prose"
    assert cut[2] == "a perfectly clean document with no benchmark overlap at all"
    assert cut[3] == ""  # fully contaminated doc cuts to empty
    # after the cut, nothing >= L tokens is shared with the benchmark
    cleaned = spark.createDataFrame(list(cut.items()), "doc_id long, text string")
    assert S.contaminated_spans(cleaned, bench, L).count() == 0


def test_contamination_requires_full_window(spark):
    # sharing fewer than L consecutive tokens is NOT contamination
    corpus = spark.createDataFrame(
        [(1, "question what is unrelated content here after three tokens")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, BENCH_ITEM)], "doc_id long, text string")
    assert S.contaminated_spans(corpus, bench, L).count() == 0


def test_contaminated_spans_plan_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame([(1, BENCH_ITEM)], "doc_id long, text string")
    bench = spark.createDataFrame([(2, BENCH_ITEM)], "doc_id long, text string")
    plan = (
        S.contaminated_spans(corpus, bench, L)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus side must not shuffle on window hash: the benchmark
    # hash set broadcasts into a map-side semi-join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# -- engine-level reports ------------------------------------------------------


def test_engine_reports(spark, tmp_path):
    """substr_dedup_report / decontaminate_report run the span machinery
    over a stored category's flattened documents."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path))
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    ids = e.upload(
        "o",
        "c",
        [
            {"name": "a", "external_id": "a",
             "document": _json.dumps(f"{shared} tail words here")},
            {"name": "b", "external_id": "b",
             "document": _json.dumps(f"lead in {shared}")},
            {"name": "u", "external_id": "u",
             "document": _json.dumps("nothing shared with anything at all")},
        ],
    )
    rep = {r["document_id"]: r for r in e.substr_dedup_report("o", "c", L=4).collect()}
    assert set(rep) == {ids[0], ids[1]}
    # flatten() appends a period to the final token, so the verbatim
    # shared run is the 7 interior tokens of the 8-token passage
    assert rep[ids[0]]["dup_tokens"] == 7

    dec = e.decontaminate_report("o", "c", [shared], L=4).collect()
    assert {r["document_id"] for r in dec} == {ids[0], ids[1]}
    # the verbatim quote is located at its exact offsets: doc a starts
    # with it (pos 1), doc b quotes it after a 2-token lead (pos 3)
    by_id = {r["document_id"]: (r["s_pos"], r["e_pos"]) for r in dec}
    assert by_id[ids[0]][0] == 1
    assert by_id[ids[1]][0] == 3
    # benchmark texts are flatten()-normalized like stored texts, so an
    # END-OF-DOCUMENT quote matches through its final (period-bearing)
    # token: doc b's flattened text is 10 tokens ending in 'theta.' and
    # the span reaches all the way to it
    assert by_id[ids[1]][1] == 10

    assert e.decontaminate_report("o", "c", [], L=4).count() == 0
    with pytest.raises(ValueError, match="unknown"):
        e.substr_dedup_report("o", "nope")


@pytest.mark.slow
def test_engine_substr_dedup_cut_roundtrip(spark, tmp_path):
    """substr_dedup_cut rewrites ONLY the changed documents (via the
    partition-scoped upsert), removes chained duplicates at fixpoint,
    and keeps the text index + band store consistent with the cut
    corpus. Texts end with '.' so flatten() adds nothing and token
    positions are literal."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path))
    b_text = "x1 x2 x3 x4 b1 b2 b3."      # keeper of the X-run
    c_text = "p1 p2 p3 q1 c1 c2 c3."      # keeper of the chain window
    a_text = "p1 p2 p3 x1 x2 x3 x4 q1 a1 a2 a3."  # chained duplicate
    ids = e.upload(
        "o",
        "c",
        [
            {"name": n, "external_id": n, "document": _json.dumps(t)}
            for n, t in (("b", b_text), ("c", c_text), ("a", a_text))
        ],
    )
    bid, ccid, aid = ids
    e.build_text_index("o", "c")
    e.build_neardup_index("o", "c")
    before = {
        r["document_id"]: r["payload_json"]
        for r in e.t["documents"].read().collect()
    }

    n = e.substr_dedup_cut("o", "c", L=4, iterate=5)
    assert n == 1  # only the chained duplicate changed

    after = {
        r["document_id"]: r["payload_json"]
        for r in e.t["documents"].read().collect()
    }
    # untouched documents byte-for-byte; the cut one holds the cleaned
    # text as a JSON string literal (flatten round-trips it exactly)
    assert after[bid] == before[bid] and after[ccid] == before[ccid]
    assert _json.loads(after[aid]) == "a1 a2 a3."
    # pass 1 cut the X-run; pass 2 caught the chain window it created
    texts = {
        r["document_id"]: r["_text"]
        for r in e._category_doc_texts(e._category_id("o", "c")).collect()
    }
    assert texts[aid] == "a1 a2 a3."
    # the cut corpus is substring-clean at L=4
    assert e.substr_dedup_report("o", "c", L=4).count() == 0
    # band store: exactly 4 rows per live doc, none keyed to stale text
    cid = e._category_id("o", "c")
    store = e._neardup_table(cid).read()
    assert store.count() == 12
    # the cleaned text no longer near-dups anything stored (its band
    # rows were rewritten); the keepers still match themselves exactly
    assert e.neardup_check("o", "c", [b_text]).count() == 1
    # text index serves the cut corpus: the cut doc is findable by its
    # surviving tokens only, and no longer by the tokens it lost
    from go_vectorsearch_spark.operators.fulltext import bm25_search_stored

    tpath = e._text_index_path(cid)
    hits = {r["doc_id"] for r in bm25_search_stored(spark, tpath, "a1 a2", k=5).collect()}
    assert aid in hits
    cut_hits = {r["doc_id"] for r in bm25_search_stored(spark, tpath, "x1 x2 x3", k=5).collect()}
    assert aid not in cut_hits and bid in cut_hits
    with pytest.raises(ValueError, match="unknown"):
        e.substr_dedup_cut("o", "nope")


@pytest.mark.slow
def test_engine_cut_final_token_renormalization_converges(spark, tmp_path):
    """The r9 verdict's done-criterion for the fixpoint gap: a cut that
    removes a document's final period-bearing token must leave a corpus
    substr_dedup_report flags NOTHING on — the fixpoint normalizes each
    pass, so the window created by the re-normalized last token is cut
    before convergence instead of surviving to storage."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path))
    a_text = "a1 a2 a3 p1 p2 p3 p4. a4 a5 a6."          # keeper of P
    b_text = "b1 b2 b3 b4 p1 p2 p3 p4."                 # P at the END
    c_text = "c1 c2 b1 b2 b3 b4. c3 c4 c5."             # dup exists only post-normalization
    aid, bid, ccid = e.upload(
        "o",
        "c",
        [
            {"name": n, "external_id": n, "document": _json.dumps(t)}
            for n, t in (("a", a_text), ("b", b_text), ("c", c_text))
        ],
    )
    n = e.substr_dedup_cut("o", "c", L=4, iterate=5)
    assert n == 2  # b (pass 1) AND c (pass 2, the renormalized window)
    after = {
        r["document_id"]: r["payload_json"]
        for r in e.t["documents"].read().collect()
    }
    assert _json.loads(after[aid]) == a_text            # keeper untouched
    assert _json.loads(after[bid]) == "b1 b2 b3 b4."    # normalized form stored
    assert _json.loads(after[ccid]) == "c1 c2 c3 c4 c5."
    # the converged corpus is report-clean — the stored form has zero
    # flaggable windows (this is the assertion the pre-normalization
    # fixpoint could not satisfy)
    assert e.substr_dedup_report("o", "c", L=4).count() == 0


@pytest.mark.slow
def test_engine_substr_cut_re_embed(spark, tmp_path):
    """re_embed=True swaps the cut document's embedding rows for fresh
    ones derived from the cleaned text in one commit; untouched
    documents keep their embedding rows bit-for-bit."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path))
    b_text = "x1 x2 x3 x4 b1 b2 b3."
    a_text = "p1 p2 p3 x1 x2 x3 x4 q1 a1 a2 a3."
    bid, aid = e.upload(
        "o",
        "c",
        [
            {"name": n, "external_id": n, "document": _json.dumps(t)}
            for n, t in (("b", b_text), ("a", a_text))
        ],
    )
    before = {
        r["embedding_id"]: (r["document_id"], tuple(r["codes"]), r["lo"], r["hi"])
        for r in e.t["embeddings"].read().collect()
    }
    a_old = {k for k, v in before.items() if v[0] == aid}
    assert a_old  # the doc was vectored at upload

    n = e.substr_dedup_cut("o", "c", L=4, re_embed=True)
    assert n == 1
    after = {
        r["embedding_id"]: (r["document_id"], tuple(r["codes"]), r["lo"], r["hi"])
        for r in e.t["embeddings"].read().collect()
    }
    # the keeper's rows are untouched, bit-for-bit
    for k, v in before.items():
        if v[0] == bid:
            assert after[k] == v
    # the cut doc's stale rows are GONE and fresh rows exist — the noop
    # embed provider is text-deterministic, so codes must differ from
    # every pre-cut row of that document
    a_new = {k for k, v in after.items() if v[0] == aid}
    assert a_new and not (a_new & a_old)
    old_codes = {before[k][1] for k in a_old}
    assert all(after[k][1] not in old_codes for k in a_new)
    # the swapped rows serve: vector search still returns the document
    hits = e.search("o", "c", "a1 a2 a3", count=2).collect()
    assert aid in {r["document_id"] for r in hits}


@pytest.mark.slow
def test_engine_bulk_cut_frame_shaped(spark, tmp_path, monkeypatch):
    """Above BULK_REWRITE_CAP the span-cut commit path stays
    frame-shaped end-to-end: a cut that changes 150 of 154 documents
    must produce results bit-identical to the point-delete path while
    never materializing an O(changed)-sized structure on the driver —
    asserted by spying every Column.isin literal and every
    DataFrame.collect result during the cut (bounded by table/bucket
    constants, NOT by the changed-document count)."""
    import json as _json

    from pyspark.sql import Column, DataFrame

    from go_vectorsearch_spark import api as A

    shared = "x1 x2 x3 x4 x5"
    corpus = [("k", f"{shared} k1 k2 k3.")]
    corpus += [
        (f"d{i}", f"u{i}a u{i}b {shared} u{i}c.") for i in range(150)
    ]
    corpus += [("c1", "clean one text body."), ("c2", "another clean body.")]
    corpus += [("c3", "third clean body text.")]

    def build(root):
        e = A.Engine(spark, str(root))
        e.upload(
            "o",
            "c",
            [
                {"name": n, "external_id": n, "document": _json.dumps(t)}
                for n, t in corpus
            ],
        )
        e.build_text_index("o", "c")
        e.build_neardup_index("o", "c")
        return e

    def state(e):
        cid = e._category_id("o", "c")
        docs = {
            r["external_id"]: r["payload_json"]
            for r in e.t["documents"].read().collect()
        }
        # embeddings keyed by content (ids may allocate differently)
        emb = sorted(
            (r["document_id"], tuple(r["codes"]), r["lo"], r["hi"])
            for r in e.t["embeddings"].read().collect()
        )
        bands = sorted(
            (r["document_id"], r["band"], r["key"])
            for r in e._neardup_table(cid).read().collect()
        )
        from go_vectorsearch_spark.versioned import manifest as _store_manifest
        from go_vectorsearch_spark.versioned import version as _store_version
        from go_vectorsearch_spark.operators.fulltext import (
            bm25_search_stored,
        )

        tpath = e._text_index_path(cid)
        m = _store_manifest(tpath, _store_version(tpath))
        hits = [
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_search_stored(
                e.spark, tpath, "x1 x2 x3", k=10
            ).collect()
        ]
        return docs, emb, bands, (int(m["n_docs"]), int(m["sum_dl"])), hits

    e_point = build(tmp_path / "point")
    assert A.BULK_REWRITE_CAP > 150  # sanity: default takes the point path
    n1 = e_point.substr_dedup_cut("o", "c", L=4, re_embed=True)

    e_bulk = build(tmp_path / "bulk")
    monkeypatch.setattr(A, "BULK_REWRITE_CAP", 10)
    isin_sizes: list[int] = []
    collect_sizes: list[int] = []
    orig_isin, orig_collect = Column.isin, DataFrame.collect

    def spy_isin(self, *args):
        vals = (
            args[0]
            if len(args) == 1 and isinstance(args[0], (list, set, tuple))
            else args
        )
        isin_sizes.append(len(vals))
        return orig_isin(self, *args)

    def spy_collect(self):
        out = orig_collect(self)
        collect_sizes.append(len(out))
        return out

    monkeypatch.setattr(Column, "isin", spy_isin)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    try:
        n2 = e_bulk.substr_dedup_cut("o", "c", L=4, re_embed=True)
    finally:
        monkeypatch.setattr(Column, "isin", orig_isin)
        monkeypatch.setattr(DataFrame, "collect", orig_collect)

    assert n1 == n2 == 150
    # every driver-side literal/materialization during the bulk cut is
    # bounded by a layout constant (doc buckets, postings buckets,
    # centroid count) — 150 changed ids would trip either bound
    assert max(isin_sizes, default=0) <= 64, isin_sizes
    assert max(collect_sizes, default=0) <= 64, collect_sizes
    # bit-identical to the point path, store by store
    assert state(e_point) == state(e_bulk)


@pytest.mark.slow
def test_engine_decontaminate_cut(spark, tmp_path):
    """decontaminate_cut removes the quoted benchmark passage from
    stored documents (no keeper protection) through the same rewrite
    machinery; clean documents stay byte-for-byte."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path))
    # 5-token quote: flatten() appends a period to the benchmark's FINAL
    # token, so only interior windows can match a mid-document quote —
    # at L=4 the quote's first window (alpha beta gamma delta) is
    # period-free and matches; the span it flags is exactly those 4
    # tokens (epsilon is covered only by the period-bearing window)
    quote = "alpha beta gamma delta epsilon"
    ids = e.upload(
        "o",
        "c",
        [
            {"name": "dirty", "external_id": "d",
             "document": _json.dumps(f"lead in {quote} tail words here.")},
            {"name": "clean", "external_id": "c",
             "document": _json.dumps("nothing shared with any benchmark at all.")},
        ],
    )
    before = {
        r["document_id"]: r["payload_json"]
        for r in e.t["documents"].read().collect()
    }
    assert e.decontaminate_cut("o", "c", [], L=4) == 0  # no-op, no writes
    n = e.decontaminate_cut("o", "c", [quote], L=4)
    assert n == 1
    after = {
        r["document_id"]: r["payload_json"]
        for r in e.t["documents"].read().collect()
    }
    assert after[ids[1]] == before[ids[1]]  # clean doc untouched
    assert _json.loads(after[ids[0]]) == "lead in epsilon tail words here."
    # the cut category no longer reports contamination
    assert e.decontaminate_report("o", "c", [quote], L=4).count() == 0
    with pytest.raises(ValueError, match="unknown"):
        e.decontaminate_cut("o", "nope", [quote])

"""BM25 + RRF hybrid retrieval: DuckDB parity (demoted bar), plan
shape, and fusion semantics."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.fulltext import (
    BM25Index,
    bm25_search,
    build_bm25_index,
    rrf_fuse,
    tokenize,
)
from tests.parity import _norm_rows, duckdb_conn

QUERY = "spark shuffle hash table"
K1, B = 1.2, 0.75


def _load_docs(spark, sf_dir):
    from go_vectorsearch_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _bm25_oracle_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
), stats AS (
  SELECT count(*) FILTER (len(toks) > 0)::DOUBLE AS n,
         sum(len(toks))::DOUBLE
           / greatest(count(*) FILTER (len(toks) > 0), 1) AS avgdl
  FROM toks
), posts AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks
), tf AS (
  SELECT term, doc_id, dl, count(*) AS tf
  FROM posts WHERE term IN ({in_list})
  GROUP BY term, doc_id, dl
), idf AS (
  SELECT term,
         ln(1 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5))
           AS idf
  FROM tf GROUP BY term
)
SELECT tf.doc_id,
       sum(idf.idf * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * tf.dl
                              / (SELECT avgdl FROM stats)))) AS score
FROM tf JOIN idf USING (term)
GROUP BY tf.doc_id
ORDER BY round(score, 6) DESC, tf.doc_id ASC
LIMIT {k}
"""


def test_bm25_duckdb_parity(spark, sf_correct):
    """Same tokenizer, same Okapi formula, same (round-6 desc, id asc)
    total order — DuckDB must reproduce the top-k row for row."""
    docs = _load_docs(spark, sf_correct)
    index = build_bm25_index(docs)
    sdf = bm25_search(index, QUERY, k=10, k1=K1, b=B)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) == 10

    terms = sorted(set(QUERY.lower().split()))
    con = duckdb_conn(sf_correct)
    try:
        res = con.execute(_bm25_oracle_sql(terms, 10))
        d_cols = [d[0] for d in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert _norm_rows(s_cols, s_rows) == _norm_rows(d_cols, d_rows)


def test_bm25_sf_dir_honored(spark, sf_correct):
    """Different corpus (sf0.001) -> different index stats; the scorer
    must not cache across corpora."""
    small = _load_docs(spark, "/root/testdata/sf0.001")
    big = _load_docs(spark, sf_correct)
    i_small, i_big = build_bm25_index(small), build_bm25_index(big)
    # both SFs carry 500 documents but different text: the corpus
    # statistics must reflect the actual input
    assert i_small.avgdl != pytest.approx(i_big.avgdl)


def test_bm25_unknown_and_empty_query(spark, sf_correct):
    docs = _load_docs(spark, sf_correct)
    index = build_bm25_index(docs)
    assert bm25_search(index, "zzzqqqxyzzy").count() == 0
    assert bm25_search(index, "  ...  ").count() == 0


def test_bm25_postings_prune_pushes_down(spark, sf_correct, tmp_path):
    """On a STORED postings table (the at-scale layout) the query-term
    filter must reach the parquet scan as a pushed filter, and the only
    exchange left is the per-document sum."""
    docs = _load_docs(spark, sf_correct)
    index = build_bm25_index(docs)
    path = str(tmp_path / "postings")
    index.postings.write.parquet(path)
    stored = BM25Index(
        postings=spark.read.parquet(path),
        n_docs=index.n_docs,
        avgdl=index.avgdl,
    )
    plan = (
        bm25_search(stored, QUERY, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(term" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_tokenize_matches_python_reference(spark):
    import re

    texts = ["Hello, WORLD!  42x", "", "---", "a b  c", "ümlaut mix3d"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(tokenize(F.col("t"))).collect()]
    want = [[w for w in re.split("[^a-z0-9]+", t.lower()) if w] for t in texts]
    assert got == want


def test_rrf_fusion_matches_python_reference(spark, sf_correct):
    """Fused ranking == the published formula computed independently in
    plain Python over the same two bounded rankings."""
    from go_vectorsearch_spark.queries import _qvec, _t
    from go_vectorsearch_spark.operators.search import brute_force_topk

    docs = _load_docs(spark, sf_correct)
    index = build_bm25_index(docs)
    lexical = bm25_search(index, QUERY, k=20)
    emb = _t(spark, sf_correct, "embeddings")
    semantic = brute_force_topk(
        emb, _qvec(spark, sf_correct), 20, id_col="vec_id", vec_col="embedding"
    ).select(F.col("vec_id").alias("doc_id"), "score")

    fused = [
        (r["doc_id"], round(r["score"], 10))
        for r in rrf_fuse([lexical, semantic], k=10, c=60).collect()
    ]

    def ranks(df):
        rows = [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]
        rows.sort(key=lambda t: (-t[1], t[0]))
        return {d: i + 1 for i, (d, _) in enumerate(rows)}

    acc: dict[int, float] = {}
    for ranking in (ranks(lexical), ranks(semantic)):
        for d, rk in ranking.items():
            acc[d] = acc.get(d, 0.0) + 1.0 / (60 + rk)
    want = sorted(acc.items(), key=lambda t: (-round(t[1], 6), t[0]))[:10]
    assert fused == [(d, round(s, 10)) for d, s in want]


def test_bm25_tf_saturation_and_length_norm(spark):
    """The two properties that make BM25 BM25: term-frequency gain
    saturates (k1), and longer documents are penalized (b)."""
    rows = [
        (1, "cat"),  # tf=1, short
        (2, "cat cat cat cat cat cat cat cat"),  # tf=8, longer
        (3, "cat " + "dog " * 20),  # tf=1, long
        (4, "bird only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_bm25_index(df)
    got = {r["doc_id"]: r["score"] for r in bm25_search(index, "cat", k=4).collect()}
    assert set(got) == {1, 2, 3}
    # tf=8 scores higher than tf=1 but FAR less than 8x (saturation)
    assert got[2] > got[1]
    assert got[2] < 3 * got[1]
    # same tf, longer doc scores lower (length normalization)
    assert got[3] < got[1]


def test_maxsim_duckdb_parity(spark, sf_correct):
    """Late-interaction MaxSim over (label = document, chunk vectors):
    DuckDB reproduces the top-k row for row with the same per-query max
    + sum + (round-6 desc, id asc) order."""
    from go_vectorsearch_spark.operators.search import maxsim_topk
    from go_vectorsearch_spark.queries import _t

    emb = _t(spark, sf_correct, "embeddings")
    qvecs = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).orderBy("vec_id").collect()
    ]
    sdf = maxsim_topk(emb, qvecs, k=10, doc_col="label")
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) == 10

    cos = (
        "list_sum(list_transform(generate_series(1, len(e.embedding)), "
        "i -> e.embedding[i]::DOUBLE * q{j}[i])) "
        "/ (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) "
        "* sqrt(list_sum(list_transform(q{j}, x -> x * x))))"
    )
    q_cols = ", ".join(
        f"(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = {v}) AS q{j}"
        for j, v in enumerate([0, 1, 2])
    )
    maxes = ", ".join(f"max({cos.format(j=j)}) AS m{j}" for j in range(3))
    con = duckdb_conn(sf_correct)
    try:
        res = con.execute(f"""
WITH q AS (SELECT {q_cols}),
per AS (
  SELECT e.label, {maxes}
  FROM embeddings e, q
  GROUP BY e.label
)
SELECT label, m0 + m1 + m2 AS score
FROM per
ORDER BY round(score, 6) DESC, label ASC
LIMIT 10
""")
        d_cols = [d[0] for d in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols)
    assert _norm_rows(s_cols, s_rows) == _norm_rows(d_cols, d_rows)


def test_maxsim_single_query_equals_grouped_topk(spark, sf_correct):
    """With ONE query vector MaxSim degenerates to the engine's T2
    per-document max — the two paths must agree exactly."""
    from go_vectorsearch_spark.operators.search import brute_force_topk, maxsim_topk
    from go_vectorsearch_spark.queries import _qvec, _t

    emb = _t(spark, sf_correct, "embeddings")
    q = _qvec(spark, sf_correct)
    a = [
        (r["label"], round(r["score"], 6))
        for r in maxsim_topk(emb, [q], k=10, doc_col="label").collect()
    ]
    b = [
        (r["label"], round(r["score"], 6))
        for r in brute_force_topk(
            emb, q, 10, id_col="vec_id", vec_col="embedding", doc_col="label"
        ).collect()
    ]
    assert a == b


def test_maxsim_plan_one_shuffle(spark, sf_correct):
    """nq query vectors must NOT multiply scans or shuffles: one scan,
    one aggregate exchange, no join, no Python."""
    from go_vectorsearch_spark.operators.search import maxsim_topk
    from go_vectorsearch_spark.queries import _t

    emb = _t(spark, sf_correct, "embeddings")
    qvecs = [[float(i == j) for i in range(64)] for j in range(4)]
    plan = (
        maxsim_topk(emb, qvecs, k=5, doc_col="label")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan


TERM_EDGES = ["zebra", "common", "alpha1", "héllo", "", "spark shuffle", "日本語", "\x00"]


@given(st.lists(st.text(max_size=12), max_size=24))
@settings(max_examples=3, deadline=None)
def test_term_buckets_match_spark_xxhash(spark, terms):
    """The driver-side bucket of a term is the write side's
    ``pmod(xxhash64(term), n)``, multibyte and empty strings included."""
    from go_vectorsearch_spark.operators.fulltext import term_buckets

    terms = TERM_EDGES + terms
    df = spark.createDataFrame([(i, t) for i, t in enumerate(terms)], "i int, t string")
    want = df.orderBy("i").select(
        F.pmod(F.xxhash64("t"), F.lit(64)), F.pmod(F.xxhash64("t"), F.lit(7))
    ).collect()
    got = [
        (term_buckets(spark, [t], 64)[0], term_buckets(spark, [t], 7)[0])
        for t in terms
    ]
    assert got == [tuple(r) for r in want]


def test_bm25_stored_layout_partition_prunes(spark, sf_correct, tmp_path):
    """The at-scale layout: postings partitioned by term hash bucket;
    a query scans ONLY its terms' buckets (PartitionFilters on _tb) and
    returns exactly the in-memory index's result."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        write_postings,
    )

    docs = _load_docs(spark, sf_correct)
    index = build_bm25_index(docs)
    path = str(tmp_path / "bm25")
    write_postings(index, path, n_buckets=16)

    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_search(index, QUERY, k=10).collect()
    ]
    got_df = bm25_search_stored(spark, path, QUERY, k=10)
    got = [(r["doc_id"], round(r["score"], 6)) for r in got_df.collect()]
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_tb" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert "In(term" in plan  # term filter still pushed into row groups


def test_append_postings_equals_rebuild(spark, sf_correct, tmp_path):
    """A store grown by append scores BIT-identically to one rebuilt
    from scratch over the union corpus (integer stats merge), and the
    append leaves every pre-existing bucket file untouched."""
    import os

    from go_vectorsearch_spark.operators.fulltext import (
        append_postings,
        bm25_search_stored,
        write_postings,
    )

    docs = _load_docs(spark, sf_correct)
    first = docs.filter(F.col("doc_id") < 400)
    rest = docs.filter(F.col("doc_id") >= 400)

    grown = str(tmp_path / "grown")
    write_postings(build_bm25_index(first), grown, n_buckets=8)

    def bucket_files():
        out = {}
        base = f"{grown}/batches"
        for b in os.listdir(base):
            for d in os.listdir(f"{base}/{b}"):
                if d.startswith("_tb="):
                    p = f"{base}/{b}/{d}"
                    out[f"{b}/{d}"] = {
                        f: os.path.getmtime(f"{p}/{f}")
                        for f in os.listdir(p)
                        if f.endswith(".parquet")
                    }
        return out

    before = bucket_files()
    append_postings(build_bm25_index(rest), grown)
    after = bucket_files()
    for d, files in before.items():
        for f, mtime in files.items():
            assert after[d][f] == mtime, f"pre-existing file rewritten: {d}/{f}"
    assert sum(len(v) for v in after.values()) > sum(len(v) for v in before.values())

    whole = str(tmp_path / "whole")
    write_postings(build_bm25_index(docs), whole, n_buckets=8)

    for q in (QUERY, "catalyst", "data table"):
        g = [tuple(r) for r in bm25_search_stored(spark, grown, q, k=10).collect()]
        w = [tuple(r) for r in bm25_search_stored(spark, whole, q, k=10).collect()]
        assert g == w, f"append/rebuild divergence for {q!r}"


@pytest.mark.slow
def test_engine_append_text_index(spark, tmp_path):
    """Engine path: upload → build → upload more; the second upload
    AUTO-appends its postings (no manual maintenance call), and hybrid
    lexical retrieval sees the new documents without a rebuild."""
    import json as _json

    from go_vectorsearch_spark.api import Engine
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        read_postings,
    )

    eng = Engine(spark, str(tmp_path / "root"))
    eng.upload("o", "c", [
        {"name": "A", "external_id": "a", "document": _json.dumps({"body": "alpha bravo"})},
    ])
    assert eng.build_text_index("o", "c") == 1
    ids2 = eng.upload("o", "c", [
        {"name": "B", "external_id": "b", "document": _json.dumps({"body": "zygote xylophone"})},
    ])

    cid = eng._category_id("o", "c")
    # upload already appended: exactly 2 docs indexed, no double-count
    assert read_postings(spark, eng._text_index_path(cid))[0].n_docs == 2
    hits = bm25_search_stored(
        spark, eng._text_index_path(cid), "zygote", k=5
    ).collect()
    assert [r["doc_id"] for r in hits] == ids2
    rows = eng.search_hybrid("o", "c", "zygote xylophone", count=2).collect()
    assert rows and rows[0]["name"] == "B"


@pytest.mark.parametrize("seed", [3, 11])
def test_append_postings_random_splits_equal_rebuild(spark, sf_correct, tmp_path, seed):
    """Invariant, randomized: for ANY partition of the corpus into
    batches, building on the first and appending the rest yields a
    store that answers every probe identically to a single build over
    the whole corpus (exact integer stats merge + append-only bucket
    growth)."""
    import random

    from go_vectorsearch_spark.operators.fulltext import (
        append_postings,
        bm25_search_stored,
        write_postings,
    )

    rng = random.Random(seed)
    docs = _load_docs(spark, sf_correct)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    rng.shuffle(ids)
    cut1, cut2 = len(ids) // 3, 2 * len(ids) // 3
    batches = [set(ids[:cut1]), set(ids[cut1:cut2]), set(ids[cut2:])]

    grown = str(tmp_path / f"grown{seed}")
    write_postings(
        build_bm25_index(docs.filter(F.col("doc_id").isin(list(batches[0])))),
        grown,
        n_buckets=8,
    )
    for b in batches[1:]:
        append_postings(
            build_bm25_index(docs.filter(F.col("doc_id").isin(list(b)))), grown
        )

    whole = str(tmp_path / f"whole{seed}")
    write_postings(build_bm25_index(docs), whole, n_buckets=8)

    some_text = [r["text"] for r in docs.limit(20).collect()]
    queries = [QUERY] + [
        " ".join(rng.sample(t.split(), min(3, len(t.split())))) for t in some_text[:4]
    ]
    for q in queries:
        g = [tuple(r) for r in bm25_search_stored(spark, grown, q, k=10).collect()]
        w = [tuple(r) for r in bm25_search_stored(spark, whole, q, k=10).collect()]
        assert g == w, f"divergence for {q!r}"


def test_stored_rebuild_preserves_reader_snapshot(spark, sf_correct, tmp_path):
    """Snapshot isolation for lock-free readers: a frame resolved
    BEFORE a rebuild still scans its own (immutable) version's files
    after the rebuild commits; a fresh resolve sees the new corpus.
    vacuum_postings then reclaims exactly the unreferenced batches."""
    import os

    from go_vectorsearch_spark.operators.fulltext import (
        read_postings,
        vacuum_postings,
        write_postings,
    )

    docs = _load_docs(spark, sf_correct)
    path = str(tmp_path / "store")
    write_postings(build_bm25_index(docs.filter(F.col("doc_id") < 100)), path, n_buckets=8)
    old_index, _ = read_postings(spark, path)  # resolves v0's manifest

    # rebuild over a DIFFERENT corpus slice -> new batch, new manifest
    write_postings(build_bm25_index(docs.filter(F.col("doc_id") >= 100)), path, n_buckets=8)

    # the pre-rebuild frame still answers from its own snapshot
    assert old_index.postings.select("doc_id").distinct().count() == 100
    new_index, _ = read_postings(spark, path)
    assert new_index.postings.filter(F.col("doc_id") < 100).count() == 0

    # keep_versions=2 keeps both versions' batches...
    assert vacuum_postings(path, keep_versions=2) == []
    # ...keep_versions=1 drops v0's manifest and its now-unreferenced batch
    removed = vacuum_postings(path, keep_versions=1)
    assert any(r.startswith("batches/") for r in removed)
    assert not os.path.exists(f"{path}/v0.json")
    still, _ = read_postings(spark, path)
    assert still.postings.select("doc_id").distinct().count() == 400


def test_vacuum_grace_measures_dereference_not_write_time(
    spark, sf_correct, tmp_path
):
    """The grace period protects a reader whose manifest was superseded
    MOMENTS ago even when the batch files are hours old: age runs from
    the first vacuum's dereference OBSERVATION (a sentinel), never from
    the batch's write mtime. Reclamation then completes on the second
    pass after the grace."""
    import os
    import time

    from go_vectorsearch_spark.operators.fulltext import (
        vacuum_postings,
        write_postings,
    )
    from go_vectorsearch_spark.versioned import DEREF_SENTINEL

    docs = _load_docs(spark, sf_correct)
    path = str(tmp_path / "store")
    write_postings(build_bm25_index(docs.filter(F.col("doc_id") < 50)), path, n_buckets=4)
    # make the v0 batches LOOK hours old (the pre-fix age basis)
    bdir = f"{path}/batches"
    old = time.time() - 7200
    v0_batches = sorted(os.listdir(bdir))
    for d in v0_batches:
        os.utime(f"{bdir}/{d}", (old, old))
    # supersede v0 RIGHT NOW — a reader resolved it a moment ago
    write_postings(build_bm25_index(docs.filter(F.col("doc_id") >= 50)), path, n_buckets=4)

    # pass 1: old-mtime batches dereferenced a second ago must SURVIVE
    removed = vacuum_postings(path, keep_versions=1, min_age_s=300.0)
    assert not any(r.startswith("batches/") for r in removed)
    for d in v0_batches:
        assert os.path.isdir(f"{bdir}/{d}")
        assert os.path.isfile(f"{bdir}/{d}/{DEREF_SENTINEL}")

    # pass 2 within the grace: still protected
    removed = vacuum_postings(path, keep_versions=1, min_age_s=300.0)
    assert not any(r.startswith("batches/") for r in removed)

    # backdate the sentinel past the grace -> the next pass reclaims
    for d in v0_batches:
        os.utime(f"{bdir}/{d}/{DEREF_SENTINEL}", (old, old))
    removed = vacuum_postings(path, keep_versions=1, min_age_s=300.0)
    assert {r for r in removed if r.startswith("batches/")} == {
        f"batches/{d}" for d in v0_batches
    }


def test_delete_postings_equals_rebuild_over_live_corpus(spark, sf_correct, tmp_path):
    """Tombstoning documents scores BIT-identically to a store rebuilt
    from scratch over the surviving corpus: tombstoned rows are hidden
    from every reader AND the manifest's n_docs/sum_dl shrink exactly,
    so idf/avgdl match the live-corpus statistics. Exercises the
    stats-scan path (no dl hint)."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        delete_postings,
        read_postings,
        write_postings,
    )

    docs = _load_docs(spark, sf_correct)
    victims = [5, 17, 123]

    store = str(tmp_path / "store")
    write_postings(build_bm25_index(docs), store, n_buckets=8)
    assert delete_postings(spark, store, victims) == len(victims)
    # idempotent: re-deleting tombstoned ids is a no-op
    assert delete_postings(spark, store, victims) == 0

    live = str(tmp_path / "live")
    write_postings(
        build_bm25_index(docs.filter(~F.col("doc_id").isin(victims))),
        live,
        n_buckets=8,
    )

    gi, _ = read_postings(spark, store)
    li, _ = read_postings(spark, live)
    assert (gi.n_docs, gi.sum_dl) == (li.n_docs, li.sum_dl)
    for q in (QUERY, "catalyst", "data table"):
        g = [tuple(r) for r in bm25_search_stored(spark, store, q, k=10).collect()]
        w = [tuple(r) for r in bm25_search_stored(spark, live, q, k=10).collect()]
        assert g == w, f"delete/rebuild divergence for {q!r}"
        assert not set(victims) & {d for d, _s in g}


def test_delete_postings_ignores_ids_absent_from_the_index(spark, tmp_path):
    """Deleting a document the index never saw (uploaded after the last
    build/append) must NOT shrink n_docs/sum_dl or add a tombstone —
    with or without a caller-supplied dl hint. Before the fix, repeated
    absent-id deletes could drive n_docs negative, making the idf's log
    argument negative (NULL in Spark) and silently zeroing every BM25
    score."""
    from go_vectorsearch_spark.versioned import manifest as _store_manifest
    from go_vectorsearch_spark.versioned import version as _store_version
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        delete_postings,
        read_postings,
        write_postings,
    )

    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "alpha delta echo")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_postings(build_bm25_index(docs), store, n_buckets=4)

    # absent id, WITH a dl hint (the engine path: victim verified
    # against the documents table, not the index)
    assert delete_postings(spark, store, [99], dl_by_doc={99: 7}) == 0
    # absent id, stats-scan path
    assert delete_postings(spark, store, [98]) == 0
    # mixed batch: only the present id counts
    assert delete_postings(spark, store, [1, 97], dl_by_doc={1: 3, 97: 5}) == 1

    m = _store_manifest(store, _store_version(store))
    assert m["tombstones"] == [1]
    idx, _ = read_postings(spark, store)
    assert (idx.n_docs, idx.sum_dl) == (1, 3)
    # scores stay sane (idf argument positive)
    hits = [tuple(r) for r in bm25_search_stored(spark, store, "alpha", k=5).collect()]
    assert [d for d, _s in hits] == [2]
    assert all(s > 0 for _d, s in hits)


def test_tokenless_docs_excluded_from_stats_and_delete_is_noop(spark, tmp_path):
    """A document whose text tokenizes to zero tokens backs no posting
    rows, so it must not count in n_docs either — otherwise deleting it
    later cannot shrink the stats it never backed (delete_postings
    intersects victims with the stored postings) and idf diverges from
    a rebuild over the survivors forever."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        delete_postings,
        read_postings,
        write_postings,
    )

    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "!!! ... ---"), (3, "alpha charlie"), (4, "")],
        "doc_id long, text string",
    )
    idx = build_bm25_index(docs)
    assert idx.n_docs == 2 and idx.sum_dl == 4  # docs 2 and 4 are token-less
    # persist path derives the same scalars from the postings
    idx_p = build_bm25_index(docs, persist=True)
    assert (idx_p.n_docs, idx_p.sum_dl) == (2, 4)
    idx_p.postings.unpersist()

    store = str(tmp_path / "store")
    write_postings(idx, store, n_buckets=4)
    # deleting the token-less docs is a stat-preserving no-op...
    assert delete_postings(spark, store, [2, 4]) == 0
    gi, _ = read_postings(spark, store)
    assert (gi.n_docs, gi.sum_dl) == (2, 4)
    # ...and scoring equals a rebuild over the survivors
    live = str(tmp_path / "live")
    write_postings(
        build_bm25_index(docs.filter(F.col("doc_id").isin([1, 3]))), live, n_buckets=4
    )
    g = [tuple(r) for r in bm25_search_stored(spark, store, "alpha", k=5).collect()]
    w = [tuple(r) for r in bm25_search_stored(spark, live, "alpha", k=5).collect()]
    assert g == w and len(g) == 2


def test_delete_postings_dl_hint_compaction_purges_and_append_carries(
    spark, tmp_path
):
    """(a) A caller-supplied dl skips the stats scan and yields the
    same exact stats; (b) compaction PHYSICALLY purges tombstoned rows
    and clears the list; (c) an append between delete and compaction
    carries the tombstones forward (the dead doc stays hidden)."""
    from go_vectorsearch_spark.versioned import manifest as _store_manifest
    from go_vectorsearch_spark.versioned import version as _store_version
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings,
        bm25_search_stored,
        compact_postings,
        delete_postings,
        read_postings,
        write_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie"),
            (2, "alpha alpha delta"),
            (3, "echo foxtrot alpha"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_postings(build_bm25_index(docs), store, n_buckets=4)

    # doc 2 has 3 tokens; the dl hint means only a doc_id presence scan
    # runs (no dl column read)
    assert delete_postings(spark, store, [2], dl_by_doc={2: 3}) == 1
    idx, _ = read_postings(spark, store)
    assert idx.n_docs == 2 and idx.sum_dl == 6
    assert idx.postings.filter(F.col("doc_id") == 2).count() == 0

    # (c) append doc 4 — tombstones must survive the append commit
    extra = spark.createDataFrame([(4, "alpha golf")], "doc_id long, text string")
    append_postings(build_bm25_index(extra), store)
    m = _store_manifest(store, _store_version(store))
    assert m["tombstones"] == [2]
    hits = {d for d, _s in
            (tuple(r) for r in bm25_search_stored(spark, store, "alpha", k=10).collect())}
    assert hits == {1, 3, 4}

    # (b) compaction purges the physical rows and resets the list
    compact_postings(spark, store)
    m2 = _store_manifest(store, _store_version(store))
    assert m2.get("tombstones", []) == []
    idx2, _ = read_postings(spark, store)
    assert idx2.postings.filter(F.col("doc_id") == 2).count() == 0
    assert (idx2.n_docs, idx2.sum_dl) == (3, 8)
    hits2 = {d for d, _s in
             (tuple(r) for r in bm25_search_stored(spark, store, "alpha", k=10).collect())}
    assert hits2 == {1, 3, 4}


def test_write_postings_version_guard_detects_interleaved_commit(spark, tmp_path):
    """A rebuild whose corpus snapshot corresponds to store version V
    must NOT commit if the store moved past V (the interleaved append's
    epoch key would stay in `applied` while its data vanished — a
    silently-skipped replay). write_postings(base_version=V) raises
    ConcurrentWriteError instead."""
    import pytest as _pytest

    from go_vectorsearch_spark.versioned import version as _store_version
    from go_vectorsearch_spark.operators.fulltext import (
        ConcurrentWriteError,
        append_postings,
        write_postings,
    )

    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta")], "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    write_postings(build_bm25_index(docs), store, n_buckets=4)
    base = _store_version(store)

    # an append lands between the rebuild's snapshot and its commit
    extra = spark.createDataFrame([(3, "echo")], "doc_id long, text string")
    append_postings(build_bm25_index(extra), store)

    with _pytest.raises(ConcurrentWriteError):
        write_postings(build_bm25_index(docs), store, n_buckets=4, base_version=base)
    # unguarded writes (explicit full rebuild, caller owns coordination)
    # still work, and a CORRECT base_version commits
    write_postings(
        build_bm25_index(docs), store, n_buckets=4, base_version=_store_version(store)
    )


def test_bm25_stored_prunes_survive_tombstones_and_allowed(spark, sf_correct, tmp_path):
    """The scale shape must survive the r5 filters: with tombstones
    present AND an allowed-docs pre-filter, the stored query still
    partition-prunes to the query terms' buckets (PartitionFilters on
    _tb) and still pushes the term filter into row groups — the
    tombstone NOT-IN and the allowed semi-join are extra filters, not
    a reason to scan the corpus."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        delete_postings,
        write_postings,
    )

    docs = _load_docs(spark, sf_correct)
    path = str(tmp_path / "bm25")
    write_postings(build_bm25_index(docs), path, n_buckets=16)
    delete_postings(spark, path, [5, 17])
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("document_id")
    )

    got_df = bm25_search_stored(spark, path, QUERY, k=10, allowed=allowed)
    rows = got_df.collect()
    assert rows
    ids = {r["doc_id"] for r in rows}
    assert ids <= {r["document_id"] for r in allowed.collect()}
    assert not ids & {5, 17}

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_tb" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert "In(term" in plan


def test_allowed_filter_keeps_corpus_statistics(spark, sf_correct, tmp_path):
    """The filtered-search stats contract: a predicate narrows WHICH
    documents may rank, not what the terms mean — a doc's BM25 score
    under allowed= equals its score in the unfiltered search (idf/df
    stay corpus-wide; filtering df too would shift relative term
    weights of multi-term queries)."""
    from go_vectorsearch_spark.operators.fulltext import (
        delete_postings,  # noqa: F401  (module import exercised above)
        write_postings,
        bm25_search_stored,
    )

    docs = _load_docs(spark, sf_correct)
    path = str(tmp_path / "store")
    write_postings(build_bm25_index(docs), path, n_buckets=8)

    # k larger than any possible match count so BOTH result sets are
    # exhaustive (a bounded unfiltered top-k would legitimately miss
    # allowed docs the filtered search ranks deeper)
    full = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_search_stored(spark, path, QUERY, k=10_000).collect()
    }
    allowed = docs.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    filt = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_search_stored(
            spark, path, QUERY, k=10_000, allowed=allowed
        ).collect()
    }
    assert filt, "filtered search found nothing"
    assert set(filt) == {d for d in full if d % 4 == 1}
    for d, s in filt.items():
        assert s == full[d], f"doc {d}: filtered score {s} != unfiltered {full[d]}"

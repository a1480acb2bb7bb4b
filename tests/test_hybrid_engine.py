"""Engine-level hybrid retrieval: per-category BM25 text index + RRF
fusion with the vector path (engine extension beyond the reference's
vector-only search)."""

from __future__ import annotations

import json

import pytest

from go_vectorsearch_spark.api import Engine

DOCS = [
    {"name": "D0", "external_id": "d0", "document": json.dumps(
        {"title": "spark shuffle", "body": "spark shuffles data between stages"})},
    {"name": "D1", "external_id": "d1", "document": json.dumps(
        {"title": "catalyst", "body": "catalyst optimizes logical plans"})},
    {"name": "D2", "external_id": "d2", "document": json.dumps(
        {"title": "hash table", "body": "a hash table backs the shuffle join"})},
    {"name": "D3", "external_id": "d3", "document": json.dumps(
        {"title": "gardening", "body": "tomatoes need sun and water"})},
    {"name": "D4", "external_id": "d4", "document": json.dumps(
        {"title": "spark again", "body": "spark spark spark shuffle shuffle"})},
]


@pytest.fixture(scope="module")
def hybrid_engine(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("hybrid_root")))
    ids = eng.upload("acme", "wiki", DOCS)
    eng.upload("intruder", "wiki", [
        {"name": "X", "external_id": "x", "document": json.dumps(
            {"title": "spark shuffle", "body": "same words, other tenant"})},
    ])
    n = eng.build_text_index("acme", "wiki")
    return eng, ids, n


def test_build_text_index_counts_category_docs(hybrid_engine):
    _eng, ids, n = hybrid_engine
    assert n == len(DOCS)


def test_hybrid_schema_and_tenant_isolation(hybrid_engine):
    eng, ids, _n = hybrid_engine
    res = eng.search_hybrid("acme", "wiki", "spark shuffle", count=5)
    rows = res.collect()
    assert res.columns == [
        "document_id", "name", "external_id", "payload_json", "score"
    ]
    assert rows, "hybrid search returned nothing"
    assert {r["document_id"] for r in rows} <= set(ids)


def test_hybrid_matches_independent_python_fusion(hybrid_engine, spark):
    """Fused page == RRF computed in plain Python over the two
    rankings the engine fuses (stored BM25 + vector top-n)."""
    from go_vectorsearch_spark.operators.fulltext import bm25_search_stored

    eng, ids, _n = hybrid_engine
    query, depth, c = "spark shuffle", 60, 60

    cid = eng._category_id("acme", "wiki")
    lex = [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_search_stored(
            spark, eng._text_index_path(cid), query, k=depth
        ).collect()
    ]
    from go_vectorsearch_spark.api import SEARCH_QUERY_PREFIX
    from go_vectorsearch_spark.operators.search import normalize_search_args

    _c, _o, nprobe = normalize_search_args(depth, 0, 0)
    qvec = eng._embed_query(SEARCH_QUERY_PREFIX + query)
    top, _ = eng._retrieve(cid, [qvec], depth, nprobe)
    vec = [(r["document_id"], round(r["score"], 6)) for r in top[0]]

    acc: dict[int, float] = {}
    for ranking in (lex, vec):
        ordered = sorted(ranking, key=lambda t: (-t[1], t[0]))
        for rank, (d, _s) in enumerate(ordered, start=1):
            acc[d] = acc.get(d, 0.0) + 1.0 / (c + rank)
    want = [d for d, _ in sorted(acc.items(), key=lambda t: (-round(t[1], 6), t[0]))][:4]

    got = [
        r["document_id"]
        for r in eng.search_hybrid("acme", "wiki", query, count=4).collect()
    ]
    assert got == want


def test_hybrid_offset_pages_like_search(hybrid_engine):
    eng, _ids, _n = hybrid_engine
    full = [r["document_id"] for r in
            eng.search_hybrid("acme", "wiki", "spark shuffle", count=4).collect()]
    page2 = [r["document_id"] for r in
             eng.search_hybrid("acme", "wiki", "spark shuffle", count=2, offset=2).collect()]
    assert page2 == full[2:4]


def test_hybrid_requires_text_index(hybrid_engine):
    eng, _ids, _n = hybrid_engine
    eng.upload("acme", "noindex", [
        {"name": "N", "external_id": "n", "document": json.dumps("no index yet")},
    ])
    with pytest.raises(ValueError, match="build_text_index"):
        eng.search_hybrid("acme", "noindex", "anything")


def test_hybrid_unknown_category_empty(hybrid_engine):
    eng, _ids, _n = hybrid_engine
    assert eng.search_hybrid("acme", "ghost", "spark").count() == 0


def test_hybrid_lexical_reaches_docs_vector_misses(hybrid_engine):
    """A purely lexical match must still surface: gardening terms
    appear in exactly one document, and fusion must rank it first even
    if the (noop-hash) vector ranking scatters."""
    eng, ids, _n = hybrid_engine
    rows = eng.search_hybrid("acme", "wiki", "tomatoes sun water", count=3).collect()
    assert rows and rows[0]["name"] == "D3"


def test_engine_stats_counts(hybrid_engine):
    eng, ids, _n = hybrid_engine
    s = eng.stats()
    assert set(s["tables"]) == {"owners", "categories", "documents", "embeddings", "centroids"}
    for t, info in s["tables"].items():
        assert info["rows"] >= 1 and info["version"] >= 1
    by_key = {(c["owner"], c["category"]): c for c in s["categories"]}
    wiki = by_key[("acme", "wiki")]
    assert wiki["documents"] >= len(DOCS)
    assert wiki["embeddings"] >= wiki["documents"]  # >=1 chunk per doc
    assert wiki["centroids"] >= 1
    assert wiki["text_index"] is True
    intruder = by_key[("intruder", "wiki")]
    assert intruder["documents"] == 1 and intruder["text_index"] is False
    # documents table total equals the sum over categories
    assert s["tables"]["documents"]["rows"] == sum(
        c["documents"] for c in s["categories"]
    )


def test_rebuilds_reclaim_old_batches(spark, tmp_path):
    """Back-to-back rebuilds must NOT delete young batches (the
    vacuum's age guard protects in-flight lock-free readers even
    across several quick rebuilds); an aged explicit vacuum then
    bounds disk to the newest two versions."""
    import json as _json
    import os

    from go_vectorsearch_spark.operators.fulltext import vacuum_postings

    eng = Engine(spark, str(tmp_path / "root"))
    eng.upload("o", "c", [
        {"name": "A", "external_id": "a", "document": _json.dumps("alpha bravo words")},
    ])
    for _ in range(4):
        eng.build_text_index("o", "c")
    cid = eng._category_id("o", "c")
    path = eng._text_index_path(cid)
    # age guard: every batch is seconds old -> the automatic vacuum
    # removed NOTHING, all four versions' files still on disk
    assert len(os.listdir(f"{path}/batches")) == 4
    # explicit aged reclaim (age 0 = unit-test mode, the tables' idiom)
    removed = vacuum_postings(path, keep_versions=2, min_age_s=0)
    assert removed
    batches = os.listdir(f"{path}/batches")
    manifests = [f for f in os.listdir(path) if f.endswith(".json")]
    assert len(batches) == 2 and len(manifests) == 2
    assert eng.search_hybrid("o", "c", "alpha", count=1).count() == 1


@pytest.mark.slow
def test_delete_document_maintains_text_index(spark, tmp_path):
    """The round-4 gap: deletes must maintain the BM25 store. After a
    document delete, (a) the lexical ranking contains no dead ids,
    (b) a hybrid page stays FULL — count rows returned when >= count
    live matches exist (stale postings used to occupy top-n slots that
    hydration then dropped), and (c) corpus stats equal a fresh rebuild
    over the survivors."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        read_postings,
    )

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"D{i}", "external_id": f"d{i}", "document": json.dumps(
            {"title": "spark shuffle", "body": f"spark shuffle notes number{i}"})}
        for i in range(6)
    ]
    ids = eng.upload("acme", "wiki", docs)
    eng.build_text_index("acme", "wiki")
    victim = ids[2]

    eng.delete_document("acme", "wiki", victim)

    cid = eng._category_id("acme", "wiki")
    lex = [r["doc_id"] for r in bm25_search_stored(
        spark, eng._text_index_path(cid), "spark shuffle", k=10).collect()]
    assert victim not in lex
    assert len(lex) == 5

    page = eng.search_hybrid("acme", "wiki", "spark shuffle", count=5).collect()
    assert len(page) == 5, "hybrid page underfilled after delete"
    assert victim not in {r["document_id"] for r in page}

    # stats equal a rebuild over the survivors (exact tombstone dl)
    idx, _ = read_postings(spark, eng._text_index_path(cid))
    n2 = eng.build_text_index("acme", "wiki")
    fresh, _ = read_postings(spark, eng._text_index_path(cid))
    assert n2 == 5
    assert (idx.n_docs, idx.sum_dl) == (fresh.n_docs, fresh.sum_dl)

    # tenant-scope: deleting an id that is not this tenant's is a no-op
    eng.upload("other", "wiki", [docs[0]])
    before = read_postings(spark, eng._text_index_path(cid))[0].n_docs
    eng.delete_document("other", "wiki", ids[0])
    assert read_postings(spark, eng._text_index_path(cid))[0].n_docs == before


@pytest.mark.slow
def test_delete_category_and_owner_remove_text_index_dirs(spark, tmp_path):
    """Cascade deletes reclaim the category's postings store directory
    (it was orphaned on disk forever before r5)."""
    import os

    eng = Engine(spark, str(tmp_path / "root"))
    eng.upload("acme", "a", [
        {"name": "A", "external_id": "a", "document": json.dumps("alpha bravo")}])
    eng.upload("acme", "b", [
        {"name": "B", "external_id": "b", "document": json.dumps("charlie delta")}])
    eng.build_text_index("acme", "a")
    eng.build_text_index("acme", "b")
    cid_a = eng._category_id("acme", "a")
    cid_b = eng._category_id("acme", "b")
    assert os.path.isdir(eng._text_index_path(cid_a))

    eng.delete_category("acme", "a")
    assert not os.path.exists(eng._text_index_path(cid_a))
    assert os.path.isdir(eng._text_index_path(cid_b))

    eng.delete_owner("acme")
    assert not os.path.exists(eng._text_index_path(cid_b))


def test_hybrid_filtered_where_prefilters_both_legs(spark, tmp_path):
    """search_hybrid(where=) is a PRE-filter on both legs: the page
    equals RRF over predicate-scoped single-mode searches, holds
    `count` rows while that many matches exist (post-filtering would
    underfill), and contains only matching documents."""
    from pyspark.sql import functions as F

    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        rrf_fuse,
    )

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"{'keep' if i % 2 else 'drop'}-{i}", "external_id": f"d{i}",
         "document": json.dumps({"body": f"spark shuffle notes number{i}"})}
        for i in range(8)
    ]
    ids = eng.upload("acme", "wiki", docs)
    eng.build_text_index("acme", "wiki")
    pred = F.col("name").startswith("keep")
    keep_ids = {ids[i] for i in range(8) if i % 2}

    page = eng.search_hybrid(
        "acme", "wiki", "spark shuffle", count=4, where=pred
    ).collect()
    assert len(page) == 4, "filtered page underfilled"
    assert {r["document_id"] for r in page} <= keep_ids

    # equivalence: fusing predicate-scoped single-mode searches
    from go_vectorsearch_spark.api import SEARCH_QUERY_PREFIX
    from go_vectorsearch_spark.operators.search import normalize_search_args

    cid = eng._category_id("acme", "wiki")
    allowed = (
        eng.t["documents"].read()
        .filter((F.col("category_id") == cid) & pred)
        .select("document_id")
    )
    lex = bm25_search_stored(
        spark, eng._text_index_path(cid), "spark shuffle", k=60, allowed=allowed
    ).withColumnRenamed("doc_id", "document_id")
    _c, _o, nprobe = normalize_search_args(4, 0, 0)
    qvec = eng._embed_query(SEARCH_QUERY_PREFIX + "spark shuffle")
    top, _ = eng._retrieve(cid, [qvec], 60, nprobe, where=pred)
    vec = spark.createDataFrame([tuple(r) for r in top[0]], "document_id long, score double")
    want = [r["document_id"] for r in rrf_fuse(
        [lex, vec], k=4, c=60, id_col="document_id").collect()]
    assert [r["document_id"] for r in page] == want

    # an all-excluding predicate yields an empty page, not an error
    none = eng.search_hybrid(
        "acme", "wiki", "spark shuffle", count=4,
        where=F.col("name").startswith("nothing"),
    ).collect()
    assert none == []


@pytest.mark.slow
def test_search_many_hybrid_matches_per_query_hybrid(spark, tmp_path):
    """Batched hybrid: each query's fused page equals the single-query
    search_hybrid result exactly — same BM25 stats, probe ranking, RRF
    ranks and page order — including the offset form; degenerate cases
    (no index, empty texts) behave like the single path."""
    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"H{i}", "external_id": f"h{i}", "document": json.dumps(
            {"body": f"hybrid batch doc {i} "
                     f"{'spark shuffle' if i % 2 else 'catalyst plans'}"})}
        for i in range(8)
    ]
    eng.upload("acme", "wiki", docs)
    eng.build_text_index("acme", "wiki")

    texts = ["spark shuffle", "catalyst plans", "hybrid batch"]
    out = eng.search_many_hybrid("acme", "wiki", texts, count=4, nprobe=-1)
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r["q_ix"], []).append(r)
    for ix, t in enumerate(texts):
        single = eng.search_hybrid("acme", "wiki", t, count=4, nprobe=-1).collect()
        got = by_q.get(ix, [])
        assert [r["document_id"] for r in got] == [
            r["document_id"] for r in single
        ], f"q{ix} diverged"
        for g, s in zip(got, single):
            assert g["score"] == pytest.approx(s["score"])

    # offset paging parity
    paged = eng.search_many_hybrid(
        "acme", "wiki", ["spark shuffle"], count=2, offset=2, nprobe=-1
    ).collect()
    single_paged = eng.search_hybrid(
        "acme", "wiki", "spark shuffle", count=2, offset=2, nprobe=-1
    ).collect()
    assert [r["document_id"] for r in paged] == [
        r["document_id"] for r in single_paged
    ]

    assert eng.search_many_hybrid("acme", "wiki", [], count=4).count() == 0
    with pytest.raises(ValueError, match="build_text_index"):
        eng.upload("acme", "noidx", [docs[0]])
        eng.search_many_hybrid("acme", "noidx", ["x"])

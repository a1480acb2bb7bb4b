"""The serving search path on the driver: query embedding, probe
ranking, the probed scan and top-k, and page hydration. Under the
engine's LOCAL_READ_ROWS bound a warm search reads the probed lists and
the page's documents with pyarrow and runs no Spark job; over it, or
with ``where=``, the scan and top-k run in Spark, and both paths return
the same pages bit for bit. All five search forms share one retrieval
core; their job counts and pages are pinned here."""

from __future__ import annotations

import json
import uuid

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from go_vectorsearch_spark import api
from go_vectorsearch_spark.api import (
    _SCHEMAS,
    SEARCH_QUERY_PREFIX,
    Engine,
    _id_frame,
    _rank_probe_ids,
)
from go_vectorsearch_spark.functions.vector import cosine_array, dequantize_array
from go_vectorsearch_spark.operators.fulltext import bm25_search_stored
from go_vectorsearch_spark.operators.search import (
    mmr_select,
    query_vec_lit,
    round6,
    round6_array,
    score_cosine,
)

TWIN_TEXT = {"body": "twin payload shared word for word"}


@pytest.fixture(scope="module")
def page_engine(spark, tmp_path_factory):
    # a long TTL keeps the metadata cache warm for the whole module
    eng = Engine(spark, str(tmp_path_factory.mktemp("page_root")), cache_ttl_s=3600)
    docs = [
        {"name": f"P{i}", "external_id": f"p{i}",
         "document": json.dumps({"body": f"page test doc {i} word{i % 5} spark"})}
        for i in range(24)
    ]
    # two identical documents embed to identical vectors: a score tie
    docs += [
        {"name": "Twin", "external_id": f"t{i}", "document": json.dumps(TWIN_TEXT)}
        for i in range(2)
    ]
    docs.append({"name": "Victim", "external_id": "v",
                 "document": json.dumps({"body": "victim document deleted mid search"})})
    ids = eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=8) > 1
    eng.build_text_index("acme", "wiki")
    return eng, ids


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"page-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_search_runs_at_most_three_jobs(spark, page_engine):
    eng, _ = page_engine
    warm = eng.search("acme", "wiki", "word3 spark", count=10, nprobe=2).collect()
    rows, jobs = _jobs_of(
        spark,
        lambda: eng.search("acme", "wiki", "word3 spark", count=10, nprobe=2).collect(),
    )
    assert rows == warm and rows
    # the probed top-k (its shuffle map stage and result) and the page's
    # documents read; the embed and the page frame's collect run none
    assert jobs <= 3, jobs


def test_page_frame_collect_runs_no_job(spark, page_engine):
    eng, _ = page_engine
    frame = eng._page_frame([(7, "n", "e", "{}", 0.5)])
    rows, jobs = _jobs_of(spark, frame.collect)
    assert [tuple(r) for r in rows] == [(7, "n", "e", "{}", 0.5)]
    assert jobs == 0


def test_equal_scores_keep_id_ascending_order(page_engine):
    eng, ids = page_engine
    twins = ids[24:26]
    rows = eng.search(
        "acme", "wiki", "twin payload shared", count=20, nprobe=-1,
        where=F.col("name").isin("Twin", "P3"),
    ).collect()
    got = [r["document_id"] for r in rows if r["document_id"] in twins]
    assert got == sorted(twins)
    by_id = {r["document_id"]: r["score"] for r in rows}
    assert by_id[twins[0]] == by_id[twins[1]]


def test_hydration_keeps_caller_rank_order(page_engine):
    """Rows equal at 6 decimals arrive id-ascending from the top-k; a
    raw-score re-sort would swap these two."""
    eng, ids = page_engine
    scope = eng._category_id("acme", "wiki")
    lo, hi = ids[0], ids[1]
    page = [Row(document_id=lo, score=0.1234561), Row(document_id=hi, score=0.1234564)]
    out = eng._hydrate(page, scope).collect()
    assert [(r["document_id"], r["score"]) for r in out] == [
        (lo, 0.1234561), (hi, 0.1234564),
    ]
    assert out[0]["name"] == "P0" and out[1]["external_id"] == "p1"


def test_page_id_deleted_before_hydration_is_dropped(page_engine, monkeypatch):
    eng, ids = page_engine
    victim = ids[-1]
    hydrate = eng._hydrate

    def racing(page_rows, scope, batched=False):
        assert victim in {r["document_id"] for r in page_rows}
        eng.delete_document("acme", "wiki", victim)
        return hydrate(page_rows, scope, batched)

    monkeypatch.setattr(eng, "_hydrate", racing)
    rows = eng.search(
        "acme", "wiki", "victim document deleted", count=20, nprobe=-1,
        where=F.col("external_id").isin("v", "p5", "p6"),
    ).collect()
    assert sorted(r["document_id"] for r in rows) == [ids[5], ids[6]]
    # an id from another scope, or one that never existed, is dropped too
    monkeypatch.setattr(eng, "_hydrate", hydrate)
    scope = eng._category_id("acme", "wiki")
    assert eng._hydrate([Row(document_id=10**9, score=1.0)], scope).count() == 0


@pytest.mark.parametrize("offset", [0, 3])
def test_search_many_pages_equal_search_pages(page_engine, offset):
    eng, _ = page_engine
    texts = ["word1 spark", "page test doc", "twin payload shared", "word4"]
    for nprobe in (1, -1):
        many = eng.search_many(
            "acme", "wiki", texts, count=4, offset=offset, nprobe=nprobe
        ).collect()
        assert [r["q_ix"] for r in many] == sorted(r["q_ix"] for r in many)
        for ix, text in enumerate(texts):
            single = eng.search(
                "acme", "wiki", text, count=4, offset=offset, nprobe=nprobe
            ).collect()
            got = [tuple(r)[1:] for r in many if r["q_ix"] == ix]
            assert got == [tuple(r) for r in single], (ix, nprobe, offset)


def test_embed_queries_match_embed_query(page_engine):
    eng, _ = page_engine
    texts = ["alpha", "", "ünïcødé: ☃"]
    assert eng._embed_queries(texts) == [eng._embed_query(t) for t in texts]


def test_query_vec_lit_is_one_literal(spark):
    rng = np.random.default_rng(3)
    q = rng.standard_normal(64).tolist()
    col = query_vec_lit(q)
    assert col._jc.node().getClass().getSimpleName() == "Literal"
    vecs = rng.standard_normal((6, 64))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "id long, embedding array<double>"
    )
    got = {r["id"]: r["score"] for r in score_cosine(df, q).collect()}
    # the element-wise array(lit(x), ...) form scores bit for bit the same
    from go_vectorsearch_spark.functions.vector import cosine_similarity

    ref = df.select(
        "id",
        cosine_similarity(
            F.col("embedding"), F.array(*[F.lit(float(x)) for x in q])
        ).alias("score"),
    )
    assert got == {r["id"]: r["score"] for r in ref.collect()}
    # and so does the driver's sequential-fold twin
    assert cosine_array(vecs, q).tolist() == [got[i] for i in range(len(vecs))]
    qa = np.asarray(q)
    for i, v in enumerate(vecs):
        assert got[i] == pytest.approx(
            float(v @ qa / (np.linalg.norm(v) * np.linalg.norm(qa))), abs=1e-12
        )


def test_engine_ships_package_to_workers(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    shipped = []
    monkeypatch.setattr(sc, "_gvs_pkg_shipped", False, raising=False)
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    Engine(spark, str(tmp_path / "root"))
    assert sc._gvs_pkg_shipped is True
    assert [p.rsplit("/", 1)[-1] for p in shipped] == ["go_vectorsearch_spark_pkg.zip"]
    # idempotent: a second Engine on the same session ships nothing new
    Engine(spark, str(tmp_path / "root2"))
    assert len(shipped) == 1


PIN_TEXTS = ["word1 spark", "page test doc", "twin payload shared", "word4"]


@pytest.mark.parametrize(
    "form, limit",
    [
        ("search_diverse", 3),
        ("search_many", 5),
        ("search_hybrid", 6),
        ("search_many_hybrid", 10),
    ],
)
def test_warm_search_form_job_counts(spark, page_engine, form, limit):
    eng, _ = page_engine
    arg = PIN_TEXTS if "many" in form else "word3 spark"

    def call():
        return getattr(eng, form)("acme", "wiki", arg, count=10, nprobe=2).collect()

    warm = call()
    rows, jobs = _jobs_of(spark, call)
    assert rows == warm and rows
    assert jobs <= limit, jobs


def _twin_chunks(eng):
    """Every live chunk of the category as (document_id, vector), in
    embedding-id order, dequantized in float32 step for step as
    functions.vector.dequantize does."""
    scope = eng._category_id("acme", "wiki")
    live = {
        r["document_id"]
        for r in eng.t["documents"].read().filter(F.col("category_id") == scope).collect()
    }
    out = []
    for r in sorted(eng.t["embeddings"].read().collect(), key=lambda r: r["embedding_id"]):
        if r["document_id"] in live:
            lo, hi = np.float32(r["lo"]), np.float32(r["hi"])
            codes = np.asarray(r["codes"], dtype=np.float32)
            out.append((r["document_id"], lo + (codes / np.float32(255.0)) * (hi - lo)))
    return out


def _twin_rank(eng, chunks, text, allowed=None):
    """Numpy brute force over every list: cosine in float64, per-document
    max (best chunk: highest score, then lowest embedding id), ordered
    (round6 desc, id asc). Returns [(document_id, score, vector)]."""
    q = np.asarray(eng._embed_query(SEARCH_QUERY_PREFIX + text), dtype=np.float64)
    best: dict[int, tuple] = {}
    for d, v32 in chunks:
        if allowed is not None and d not in allowed:
            continue
        v = v32.astype(np.float64)
        denom = np.linalg.norm(v) * np.linalg.norm(q)
        score = 0.0 if denom == 0.0 else float(v @ q / denom)
        if d not in best or score > best[d][1]:
            best[d] = (d, score, v)
    return sorted(best.values(), key=lambda t: (-round6(t[1]), t[0]))


def _twin_rrf(legs, c=60):
    acc: dict[int, float] = {}
    for leg in legs:
        for rank, (d, _s) in enumerate(leg, start=1):
            acc[d] = acc.get(d, 0.0) + 1.0 / (c + rank)
    return [d for d, _ in sorted(acc.items(), key=lambda t: (-round6(t[1]), t[0]))]


@pytest.mark.parametrize("offset", [0, 3])
@pytest.mark.parametrize("filtered", [False, True])
def test_every_form_matches_numpy_brute_force(spark, page_engine, offset, filtered):
    """At nprobe = all every form's page is fixed by exact scores: the
    core's pages must equal a numpy twin's, the score ties of the two
    Twin documents included."""
    eng, ids = page_engine
    count, pool, depth = 4, 8, 60
    keep = {ids[i] for i in (1, 5, 7, 13, 19, 24, 25)} if filtered else None
    where = F.col("document_id").isin(sorted(keep)) if filtered else None
    scope = eng._category_id("acme", "wiki")
    allowed = None if keep is None else spark.createDataFrame(
        [(d,) for d in sorted(keep)], "document_id long"
    )
    many = eng.search_many(
        "acme", "wiki", PIN_TEXTS, count=count, offset=offset, nprobe=-1, where=where
    ).collect()
    many_hybrid = (
        None if filtered else eng.search_many_hybrid(
            "acme", "wiki", PIN_TEXTS, count=count, offset=offset, nprobe=-1
        ).collect()
    )
    chunks = _twin_chunks(eng)
    for ix, text in enumerate(PIN_TEXTS):
        twin = _twin_rank(eng, chunks, text, keep)
        want = twin[offset : offset + count]
        got = eng.search(
            "acme", "wiki", text, count=count, offset=offset, nprobe=-1, where=where
        ).collect()
        assert [r["document_id"] for r in got] == [t[0] for t in want], (text, offset)
        assert [r["score"] for r in got] == pytest.approx([t[1] for t in want], abs=1e-12)
        assert [tuple(r)[1:] for r in many if r["q_ix"] == ix] == [tuple(r) for r in got]

        picks = mmr_select(
            [round6(t[1]) for t in twin[:pool]], [t[2] for t in twin[:pool]],
            count + offset, 0.5,
        )
        diverse = eng.search_diverse(
            "acme", "wiki", text, count=count, offset=offset, nprobe=-1,
            pool=pool, where=where,
        ).collect()
        assert [r["document_id"] for r in diverse] == [
            twin[i][0] for i in picks[offset : offset + count]
        ]

        lexical = [
            (r["doc_id"], r["score"])
            for r in bm25_search_stored(
                spark, eng._text_index_path(scope), text, k=depth, allowed=allowed
            ).collect()
        ]
        fused = _twin_rrf([lexical, [(t[0], t[1]) for t in twin[:depth]]])
        hybrid = eng.search_hybrid(
            "acme", "wiki", text, count=count, offset=offset, nprobe=-1, where=where
        ).collect()
        assert [r["document_id"] for r in hybrid] == fused[offset : offset + count]
        if many_hybrid is not None:
            assert [tuple(r)[1:] for r in many_hybrid if r["q_ix"] == ix] == [
                tuple(r) for r in hybrid
            ]


ROUND6_EDGES = [0.1234565, 5e-7, 0.7071065, -0.1234565, -5e-7, 2.5e-6, 0.9999995]


@given(
    st.lists(
        st.one_of(
            # values whose decimal repr sits exactly on a 7th-digit half
            st.integers(-10**7, 10**7).map(lambda k: (2 * k + 1) / 2e6),
            st.floats(-1.0, 1.0),
            st.floats(allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=8, deadline=None)
def test_round6_matches_spark_round(spark, xs):
    xs = ROUND6_EDGES + xs
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    want = [r["r"] for r in df.orderBy("i").select(F.round("x", 6).alias("r")).collect()]
    assert [round6(x) for x in xs] == want
    assert round6_array(xs).tolist() == want
    assert want[:3] == [0.123457, 1e-06, 0.707107]


# ---------------------------------------------------------------------------
# the driver path: request-sized reads score and hydrate with no Spark job
# ---------------------------------------------------------------------------

# ranks both Twins right behind one P document (and the crafted ones)
EDGE_QUERY = "Twin. twin payload shared word for word."


@pytest.fixture(scope="module")
def edge_engine(page_engine):
    """page_engine's category plus crafted edge cases, their chunks
    stored in the list the edge query probes first:

    - Near and Far score different cosines that round to the same 6
      decimals, Near (the lower id) the lower raw score, so the rounded
      order is the reverse of the raw order;
    - Pair's two chunks score exactly equal with different vectors (the
      lower chunk id holds the doubled one);
    - Gone is deleted."""
    eng, _ = page_engine
    names = ["Near", "Far", "Pair", "Gone"]
    near, far, pair, gone = eng.upload("acme", "wiki", [
        {"name": n, "external_id": n.lower(), "document": json.dumps({"body": f"edge {n}"})}
        for n in names
    ])
    eng.delete_document("acme", "wiki", gone)
    q = np.asarray(eng._embed_query(SEARCH_QUERY_PREFIX + EDGE_QUERY))
    lo, hi = np.float32(min(q.min(), 0.0)), np.float32(max(q.max(), 0.0))
    base = np.floor((q - lo) / (hi - lo) * 255).astype(np.int64)
    cands = []
    for i in range(len(base)):
        for step in (-2, -1, 1, 2):
            c = base.copy()
            c[i] = min(max(c[i] + step, 0), 255)
            cands.append(c)
    scores = cosine_array(
        dequantize_array(np.array(cands), [lo] * len(cands), [hi] * len(cands)), q
    )
    order = np.argsort(scores, kind="stable")
    a, b = next(
        (a, b) for a, b in zip(order, order[1:])
        if scores[a] < scores[b] and round6(scores[a]) == round6(scores[b])
    )
    scope = eng._category_id("acme", "wiki")
    cent = _rank_probe_ids(eng._category_centroids(scope), q.tolist(), 1)[0]
    first = eng._next_id("embeddings", "embedding_id")
    rows = [
        (first, near, cands[a], lo, hi),
        (first + 1, far, cands[b], lo, hi),
        (first + 2, pair, base, 2 * lo, 2 * hi),
        (first + 3, pair, base, lo, hi),
    ]
    eng.t["embeddings"].replace_rows(
        "document_id",
        _id_frame(eng.spark, [near, far, pair]),
        eng.spark.createDataFrame(
            [(e, d, cent, [int(x) for x in c], float(l), float(h)) for e, d, c, l, h in rows],
            _SCHEMAS["embeddings"],
        ),
    )
    pair_vec = dequantize_array([base], [2 * lo], [2 * hi])[0].tolist()
    return eng, dict(near=near, far=far, pair=pair, gone=gone, cent=cent, pair_vec=pair_vec)


def test_driver_path_pages_equal_spark_path(edge_engine, monkeypatch):
    """Every form's page, scores included, is bit for bit the Spark
    path's (forced by a bound of 0 rows), at nprobe 1/2/all and offsets
    0/3. The hybrid forms' offset only slices their fused ranking, whose
    vector leg is ``fuse_depth`` deep at any offset, so they take offset
    3 at nprobe = all alone."""
    eng, edge = edge_engine
    texts = [EDGE_QUERY, "word3 spark"]

    def pages():
        out = {}
        for nprobe in (1, 2, -1):
            for offset in (0, 3):
                forms = ["search", "search_diverse", "search_many"]
                if offset == 0 or nprobe == -1:
                    forms += ["search_hybrid", "search_many_hybrid"]
                for form in forms:
                    arg = texts if "many" in form else EDGE_QUERY
                    extra = {"pool": 12} if form == "search_diverse" else {}
                    out[form, nprobe, offset] = getattr(eng, form)(
                        "acme", "wiki", arg, count=6, offset=offset, nprobe=nprobe,
                        **extra,
                    ).collect()
        return out

    local = pages()
    monkeypatch.setattr(api, "LOCAL_READ_ROWS", 0)
    assert pages() == local
    assert all(r["document_id"] != edge["gone"] for page in local.values() for r in page)
    # the rounded tie comes in id order although Far's raw score is higher
    page = local["search", 1, 0]
    by_id = {r["document_id"]: r for r in page}
    near, far = by_id[edge["near"]], by_id[edge["far"]]
    assert near["score"] < far["score"]
    assert round6(near["score"]) == round6(far["score"])
    got = [r["document_id"] for r in page]
    assert got.index(edge["near"]) < got.index(edge["far"])
    twins = [r["score"] for r in local["search", -1, 0] if r["name"] == "Twin"]
    assert len(twins) == 2 and twins[0] == twins[1]


def test_best_chunk_tie_returns_lower_chunk_ids_vector(edge_engine, monkeypatch):
    eng, edge = edge_engine
    q = eng._embed_query(SEARCH_QUERY_PREFIX + EDGE_QUERY)

    def pair_row():
        top, _ = eng._score([(0, q, [edge["cent"]])], 50, with_vector=True)
        return next(r for r in top[0] if r["document_id"] == edge["pair"])

    local = pair_row()
    monkeypatch.setattr(api, "LOCAL_READ_ROWS", 0)
    assert pair_row() == local
    assert local["vector"] == edge["pair_vec"]


def test_reads_over_the_bound_take_the_spark_path(spark, page_engine, monkeypatch):
    eng, _ = page_engine
    text = "word3 spark"
    scope = eng._category_id("acme", "wiki")
    q = eng._embed_query(SEARCH_QUERY_PREFIX + text)
    lists = _rank_probe_ids(eng._category_centroids(scope), q, 2)
    n_rows = eng.t["embeddings"].read_arrow(lists).num_rows

    def score():
        return eng._score([(0, q, lists)], 10)[0]

    def page():
        return eng.search("acme", "wiki", text, count=10, nprobe=2).collect()

    monkeypatch.setattr(api, "LOCAL_READ_ROWS", n_rows)
    at, at_jobs = _jobs_of(spark, score)
    want = page()
    monkeypatch.setattr(api, "LOCAL_READ_ROWS", n_rows - 1)
    over, over_jobs = _jobs_of(spark, score)
    assert at_jobs == 0 and over_jobs > 0
    assert over == at and page() == want


def test_where_takes_the_spark_path(spark, page_engine, monkeypatch):
    eng, _ = page_engine
    called = []
    monkeypatch.setattr(eng, "_score_local", lambda *a: called.append(a))
    rows, jobs = _jobs_of(spark, lambda: eng.search(
        "acme", "wiki", "word3 spark", count=5, nprobe=2, where=F.col("name") != "P3",
    ).collect())
    assert rows and jobs > 0 and not called


def test_category_without_index_returns_empty_page_in_zero_jobs(spark, page_engine):
    eng, _ = page_engine
    (owner_id,), = eng.t["owners"].lookup(["owner_id"], {"name": "acme"})
    eng._get_or_create("categories", "category_id", {"name": "bare", "owner_id": owner_id})
    assert eng._category_centroids(eng._category_id("acme", "bare")) == []
    for category in ("bare", "missing"):
        for form, arg in (("search", "x"), ("search_many", ["x", "y"]),
                          ("search_diverse", "x")):
            rows, jobs = _jobs_of(
                spark, lambda: getattr(eng, form)("acme", category, arg).collect()
            )
            assert (rows, jobs) == ([], 0), (category, form)


@pytest.mark.parametrize(
    "form, jobs",
    [
        ("search", 0),
        ("search_many", 0),
        ("search_diverse", 0),
        ("search_hybrid", 4),
        ("search_many_hybrid", 6),
    ],
)
def test_warm_search_form_exact_job_counts(spark, page_engine, form, jobs):
    """Under the bound only the hybrid forms' BM25 leg runs in Spark."""
    eng, _ = page_engine
    arg = PIN_TEXTS if "many" in form else "word3 spark"

    def call():
        return getattr(eng, form)("acme", "wiki", arg, count=10, nprobe=2).collect()

    warm = call()
    rows, got = _jobs_of(spark, call)
    assert rows == warm and rows
    assert got == jobs

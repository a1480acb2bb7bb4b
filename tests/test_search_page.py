"""The page-sized ends of the serving search path: query embedding and
page hydration run on the driver, so a warm-cache search costs only the
probed scan and the top-k in Spark (plus one point read of the page's
documents)."""

from __future__ import annotations

import json
import uuid

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from go_vectorsearch_spark.api import Engine
from go_vectorsearch_spark.operators.search import query_vec_lit, score_cosine

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

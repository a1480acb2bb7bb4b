"""The request-sized ends of the upload path: chunking runs on the
driver, ids come from parquet footers and the category's centroids are
collected once, so an upload into an indexed category costs the embed,
the assignment and the two appends in Spark. Deletes without a text
index read only the victims' ids."""

from __future__ import annotations

import json
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from go_vectorsearch_spark import api
from go_vectorsearch_spark.api import Engine, _VersionedTable, dequantized_vector
from go_vectorsearch_spark.operators.documents import (
    doc_name_prefix,
    document_chunks,
    prepare_chunks,
)


def _doc(i: int, body: str | None = None) -> dict:
    return {
        "name": f"U{i}",
        "external_id": f"u{i}",
        "document": json.dumps({"body": body or f"upload path doc {i} word{i % 4}"}),
    }


@pytest.fixture(scope="module")
def upload_engine(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("upload_root")), cache_ttl_s=3600)
    ids = eng.upload("acme", "wiki", [_doc(i) for i in range(24)])
    assert eng.refresh_index("acme", "wiki", max_leaf=8) > 1
    return eng, ids


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"upload-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# upload
# ---------------------------------------------------------------------------


def test_indexed_upload_runs_at_most_eight_jobs(spark, upload_engine):
    eng, ids = upload_engine
    docs = [_doc(100 + i) for i in range(8)]
    new, jobs = _jobs_of(spark, lambda: eng.upload("acme", "wiki", docs))
    assert new == list(range(max(ids) + 1, max(ids) + 9))
    # owner and category lookups, the centroid collect, and the two
    # appends (each a shuffle map stage and its write); ids come from
    # footers and the chunk frame is a LocalRelation
    assert jobs <= 8, jobs
    emb = eng.t["embeddings"].read().filter(F.col("document_id").isin(new))
    assert emb.count() == 8
    cids = {c for c, _ in eng._category_centroids(eng._category_id("acme", "wiki"))}
    assert {r[0] for r in emb.select("centroid_id").distinct().collect()} <= cids


def test_first_upload_seeds_centroid_from_first_chunk(upload_engine):
    eng, _ = upload_engine
    long_body = " ".join(f"w{i}" for i in range(600))  # several chunks
    ids = eng.upload("acme", "fresh", [_doc(200, long_body), _doc(201)])
    cid = eng._category_id("acme", "fresh")
    cents = eng._category_centroids(cid, fresh=True)
    assert len(cents) == 1
    seed_id, seed_vec = cents[0]
    emb = dequantized_vector(
        eng.t["embeddings"].read().filter(F.col("document_id").isin(ids))
    ).collect()
    assert len(emb) > 2
    first = min(emb, key=lambda r: r["embedding_id"])
    assert first["document_id"] == ids[0]
    assert seed_vec == first["vector"]
    assert {r["centroid_id"] for r in emb} == {seed_id}


# ---------------------------------------------------------------------------
# one chunker: the driver function and the frame produce the same rows
# ---------------------------------------------------------------------------

EDGE_NAMES = [
    "Doc", "Doc.", " Doc. ", "Doc..", ".", "", " ", "\tDoc.", "Doc.\t",
    "\xa0Doc.\xa0", "Doc.\n", "Doc.\r\n", "Doc.\r", "Doc.\x85", "Doc.\u2028",
    "Doc.\u2029", "Doc.\n\n", "Doc\n.", None,
]


def test_doc_name_prefix_equals_spark_expression(spark):
    """The Column expression chunks were stored with before chunking
    moved to the driver: ASCII-space trim, Java's ``\\.$``."""
    df = spark.createDataFrame([(n,) for n in EDGE_NAMES], "name string")
    name = F.col("name")
    expr = F.when(
        name.isNotNull() & (name != ""),
        F.concat(F.regexp_replace(F.trim(name), r"\.$", ""), F.lit(". ")),
    ).otherwise(F.lit(""))
    got = [r[0] for r in df.select(expr).collect()]
    assert [doc_name_prefix(n) for n in EDGE_NAMES] == got


_chars = st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF) | st.sampled_from(
    ["雪", "ü", "\xa0", "\u2028", "\x85", "\n", "\r", "\t", " ", "."]
)
_long_lines = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "γάμμα", "δ"]), max_size=30).map(" ".join),
    max_size=4,
).map("\n".join)
_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    st.integers(-(10**6), 10**6),
    st.text(alphabet=_chars, max_size=20),
    _long_lines,
)
_payloads = st.recursive(
    _scalars,
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(st.text(alphabet=_chars, min_size=1, max_size=5), inner, max_size=3),
    max_leaves=8,
)
_names = st.none() | st.sampled_from(EDGE_NAMES) | st.text(
    alphabet=st.sampled_from([" ", "\t", "\xa0", ".", "\n", "\r", "\x85", "\u2028", "a", "é"]),
    max_size=6,
)


@given(st.lists(st.tuples(_names, _payloads), min_size=1, max_size=6))
@settings(max_examples=6, deadline=None)
def test_document_chunks_equal_prepare_chunks(spark, docs):
    ctx_num = 64  # a 14-word budget, so long lines split
    rows = [(i, n, json.dumps(p)) for i, (n, p) in enumerate(docs)]
    frame = spark.createDataFrame(rows, "doc_id long, name string, payload_json string")
    got = sorted(tuple(r) for r in prepare_chunks(frame, ctx_num=ctx_num).collect())
    want = [
        (i, ix, chunk)
        for i, n, p in rows
        for ix, chunk in enumerate(document_chunks(n, p, ctx_num))
    ]
    assert got == want


# ---------------------------------------------------------------------------
# ids from parquet footers
# ---------------------------------------------------------------------------


def _scan_max(t: _VersionedTable, col: str):
    return t.read().agg(F.max(col)).head()[0]


def _rows(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def test_max_value_equals_scan_after_every_mutation(spark, tmp_path):
    t = _VersionedTable(spark, str(tmp_path), "t", "id long, s string",
                        partition_expr="pmod(id, 4)")
    assert t.max_value("id") is None  # never written

    def check():
        want = _scan_max(t, "id")
        got, jobs = _jobs_of(spark, lambda: t.max_value("id"))
        assert got == want
        assert jobs == 0
        return got

    t.append(_rows(spark, range(10)))
    assert check() == 9
    t.append(_rows(spark, [17, 12]))
    assert check() == 17
    t.write(_rows(spark, [3, 5, 40]))
    assert check() == 40
    t.overwrite_partitions(_rows(spark, [44, 8]), [0])  # drops 40
    assert check() == 44
    t.replace_partitions(_rows(spark, [2, 6]), [0])  # drops 44 and 8
    assert check() == 6
    t.append(_rows(spark, [31]))
    t.append(_rows(spark, [27]))
    assert t.compact() == ["3"]
    assert check() == 31
    # delete the max row
    t.overwrite_partitions(t.read(partition_values=[3]).filter(F.col("id") != 31), [3])
    assert check() == 27


def test_max_value_falls_back_to_scan_without_statistics(spark, tmp_path, monkeypatch):
    t = _VersionedTable(spark, str(tmp_path), "t", "id long, s string")
    t.append(_rows(spark, [4, 11, 7]))
    orig = api._row_group_stats
    monkeypatch.setattr(
        api, "_row_group_stats", lambda path, col: [None for _ in orig(path, col)]
    )
    got, jobs = _jobs_of(spark, lambda: t.max_value("id"))
    assert got == 11
    assert jobs > 0  # a scan ran


def test_max_value_of_empty_table_is_none(spark, tmp_path):
    t = _VersionedTable(spark, str(tmp_path), "t", "id long, s string")
    t.write(spark.createDataFrame([], "id long, s string"))
    assert t.max_value("id") is None
    assert _scan_max(t, "id") is None


# ---------------------------------------------------------------------------
# delete
# ---------------------------------------------------------------------------


def test_plain_delete_runs_no_tokenizer(spark, upload_engine, monkeypatch):
    from go_vectorsearch_spark.operators import documents, fulltext

    def boom(*_):
        raise AssertionError("a delete without a text index tokenized")

    monkeypatch.setattr(fulltext, "tokenize", boom)
    monkeypatch.setattr(documents, "flatten_json_udf", boom)
    eng, ids = upload_engine
    victim = ids[3]
    n, jobs = _jobs_of(spark, lambda: eng.delete_documents("acme", "wiki", [victim]))
    assert n == 1
    # the count measured on this engine: the owner and category
    # lookups, the victim read, the touched-list collect and the two
    # partition rewrites
    assert jobs <= 10, jobs
    assert eng.t["documents"].read().filter(F.col("document_id") == victim).count() == 0


def test_delete_in_text_indexed_category_keeps_bm25_stats_exact(spark, upload_engine):
    from go_vectorsearch_spark.operators.fulltext import read_postings

    eng, _ = upload_engine
    ids = eng.upload("acme", "lex", [
        _doc(300 + i, f"spark shuffle notes number{i} " + "pad " * i) for i in range(5)
    ])
    assert eng.build_text_index("acme", "lex") == 5
    path = eng._text_index_path(eng._category_id("acme", "lex"))
    victims = [ids[1], ids[3]]
    before, _ = read_postings(spark, path)
    # the dls the build stored; the delete recomputes them from the text
    dls = before.postings.filter(F.col("doc_id").isin(victims)).select(
        "doc_id", "dl"
    ).distinct().collect()
    assert len(dls) == 2
    assert eng.delete_documents("acme", "lex", victims) == 2
    after, _ = read_postings(spark, path)
    assert (after.n_docs, after.sum_dl) == (
        before.n_docs - 2, before.sum_dl - sum(r["dl"] for r in dls)
    )

"""The upload path runs on the driver: chunking, embedding, centroid
seeding and assignment are numpy twins of the Spark expressions, ids
come from parquet footers, and the documents and embeddings rows are
pyarrow appends, so an upload runs no Spark job. Deletes without a text
index read only the victims' ids."""

from __future__ import annotations

import json
import os
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


def test_indexed_upload_runs_no_spark_job(spark, upload_engine):
    eng, ids = upload_engine
    docs = [_doc(100 + i) for i in range(8)]
    new, jobs = _jobs_of(spark, lambda: eng.upload("acme", "wiki", docs))
    assert new == list(range(max(ids) + 1, max(ids) + 9))
    # the owner, category and centroid reads are pyarrow scans, ids come
    # from footers, and embed, assign and both appends run on the driver
    assert jobs == 0, jobs
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


def test_one_row_upsert_job_count(spark, upload_engine):
    """A keyed upsert into the documents table rewrites the incoming
    keys' hash buckets, computed from the keys themselves: no scan of
    the whole table runs to find them."""
    eng, ids = upload_engine
    t = eng.t["documents"]
    row = t.read().filter(F.col("document_id") == ids[5]).collect()[0]
    changed = row.asDict()
    changed["payload_json"] = json.dumps({"body": "upserted"})
    df = spark.createDataFrame([changed], t.schema)
    _, jobs = _jobs_of(spark, lambda: t.upsert(df, "document_id"))
    # measured 7 on this engine: the keys' bucket collect (2) and the
    # one-bucket rewrite (5). A semi-join scan of the whole table made it
    # 11 once the table held more than 32 directories (Spark then lists
    # them with a job of its own)
    assert jobs <= 8, jobs
    got = t.read().filter(F.col("document_id") == ids[5]).collect()
    assert [r.asDict() for r in got] == [changed]


def test_delete_category_job_count(spark, upload_engine):
    eng, _ = upload_engine
    eng.upload("acme", "gone", [_doc(400), _doc(401)])
    cid = eng._category_id("acme", "gone")
    _, jobs = _jobs_of(spark, lambda: eng.delete_category("acme", "gone"))
    # measured on this engine: the category id rides every scan as a
    # literal, so no broadcast job ships it (19 when it did)
    assert jobs <= 14, jobs
    assert eng._category_id("acme", "gone") is None
    assert eng.t["documents"].read().filter(F.col("category_id") == cid).count() == 0
    assert eng.t["centroids"].read().filter(F.col("category_id") == cid).count() == 0


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


def test_reused_document_id_is_a_bm25_hit(spark, upload_engine):
    """Ids are allocated max+1 over the surviving rows, so deleting the
    newest document hands its id to the next upload. Its postings must
    not stay hidden behind the old tombstone, and the corpus stats must
    equal a fresh build over the same live documents."""
    from go_vectorsearch_spark.operators.fulltext import (
        bm25_search_stored,
        read_postings,
    )

    eng, _ = upload_engine
    ids = eng.upload("acme", "reuse", [_doc(500 + i) for i in range(5)])
    assert eng.build_text_index("acme", "reuse") == 5
    assert eng.delete_documents("acme", "reuse", [ids[-1]]) == 1
    again = eng.upload("acme", "reuse", [_doc(600, "zebra crossing")])
    assert again == [ids[-1]]  # the id came back
    path = eng._text_index_path(eng._category_id("acme", "reuse"))
    hits = bm25_search_stored(spark, path, "zebra", k=5).collect()
    assert [r["doc_id"] for r in hits] == again
    grown, _ = read_postings(spark, path)
    assert eng.build_text_index("acme", "reuse") == 5
    fresh, _ = read_postings(spark, path)
    assert (grown.n_docs, grown.sum_dl) == (fresh.n_docs, fresh.sum_dl)


# ---------------------------------------------------------------------------
# job pins of the driver upload
# ---------------------------------------------------------------------------


def test_first_upload_into_new_owner_and_category_runs_no_job(spark, upload_engine):
    """A new owner and category rows, the seed centroid, the documents
    and the embeddings: five pyarrow appends and no Spark job."""
    eng, _ = upload_engine
    ids, jobs = _jobs_of(spark, lambda: eng.upload("neworg", "first", [_doc(800)]))
    assert jobs == 0, jobs
    cid = eng._category_id("neworg", "first")
    assert cid is not None
    assert len(eng._category_centroids(cid, fresh=True)) == 1
    assert [r[0] for r in eng.t["documents"].lookup(["document_id"], {"category_id": cid})] == ids
    # a second category of the same owner: one new category row
    more, jobs = _jobs_of(spark, lambda: eng.upload("neworg", "second", [_doc(801)]))
    assert jobs == 0, jobs
    assert more == [ids[0] + 1]


def test_upload_into_text_indexed_category_runs_only_the_index_append(
    spark, upload_engine, monkeypatch
):
    eng, _ = upload_engine
    eng.upload("acme", "lexjobs", [_doc(810 + i, f"lexical pin {i}") for i in range(3)])
    assert eng.build_text_index("acme", "lexjobs") == 3
    sc = spark.sparkContext
    seen = {}
    orig = Engine.append_text_index

    def counted(self, owner, category, ids):
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        out = orig(self, owner, category, ids)
        seen["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) - before
        seen["ids"] = list(ids)
        return out

    monkeypatch.setattr(Engine, "append_text_index", counted)
    new, jobs = _jobs_of(
        spark, lambda: eng.upload("acme", "lexjobs", [_doc(820, "zebra lexical")])
    )
    assert seen["ids"] == new
    assert seen["jobs"] > 0
    assert jobs == seen["jobs"], (jobs, seen)


# ---------------------------------------------------------------------------
# cross-writer parity: the driver upload stores what the Spark path built
# ---------------------------------------------------------------------------


def _spark_upload_rows(spark, eng, ids, docs, base_emb, cents, method):
    """The embeddings rows the Spark form of the upload built: the
    noop-code expression, dequantize, assign_nearest_mat and
    assign_embedding_ids over a chunk frame."""
    import numpy as np

    from go_vectorsearch_spark.api import assign_embedding_ids
    from go_vectorsearch_spark.operators.assign import assign_nearest_mat
    from go_vectorsearch_spark.sources.embed_http import embed_chunks

    chunks = [document_chunks(d["name"], d["document"]) for d in docs]
    frame = spark.createDataFrame(
        [(i, ix, c) for i, cs in zip(ids, chunks) for ix, c in enumerate(cs)],
        "doc_id long, chunk_idx int, chunk string",
    )
    vec = dequantized_vector(embed_chunks(frame, dim=eng.embed_dim))
    assigned = assign_nearest_mat(
        vec, [(c, np.asarray(v, dtype=np.float64)) for c, v in cents],
        vec_col="vector", out_col="centroid_id", method=method,
    )
    rows = assign_embedding_ids(assigned, base_emb, ids[0]).select(
        "embedding_id", F.col("doc_id").alias("document_id"), "centroid_id",
        "codes", "lo", "hi",
    )
    return sorted(tuple(r) for r in rows.collect()), vec


def _stored_rows(eng, ids):
    t = eng.t["embeddings"].read().filter(F.col("document_id").isin(ids))
    return sorted(tuple(r) for r in t.collect())


@pytest.mark.parametrize("k", [1, 3, 29])
def test_driver_upload_rows_equal_spark_expressions(spark, upload_engine, k):
    import numpy as np
    import pyarrow as pa

    from go_vectorsearch_spark.operators.assign import assign_nearest_mat, nearest_ids
    from go_vectorsearch_spark.functions.vector import dequantize_array

    eng, _ = upload_engine
    cat = f"parity{k}"
    docs = [_doc(900 + i, " ".join(f"w{j}" for j in range(300 * (i % 3)))) for i in range(8)]
    if k > 1:
        # seed the category, then give it k centroids in all
        eng.upload("acme", cat, [_doc(899)])
        cid = eng._category_id("acme", cat)
        top = eng._next_id("centroids", "centroid_id")
        rng = np.random.default_rng(k)
        extra = rng.uniform(-1, 1, (k - 1, eng.embed_dim)).astype(np.float32)
        eng.t["centroids"].append(pa.Table.from_pylist([
            {"centroid_id": top + j, "category_id": cid, "vector": v.tolist()}
            for j, v in enumerate(extra)
        ]))
    base_emb = eng._next_id("embeddings", "embedding_id")
    ids = eng.upload("acme", cat, docs)
    cid = eng._category_id("acme", cat)
    cents = eng._category_centroids(cid, fresh=True)
    assert len(cents) == k
    want, vec = _spark_upload_rows(
        spark, eng, ids, docs, base_emb, cents, "gemm" if k >= 8 else "expr"
    )
    assert _stored_rows(eng, ids) == want
    if k == 1:
        first = vec.orderBy("doc_id", "chunk_idx").select("vector").head()[0]
        assert cents[0][1] == first
    # both strategies pick on the driver what they pick in Spark
    rows = vec.orderBy("doc_id", "chunk_idx").collect()
    X = dequantize_array(
        [r["codes"] for r in rows], [r["lo"] for r in rows], [r["hi"] for r in rows]
    )
    mat = [(c, np.asarray(v, dtype=np.float64)) for c, v in cents]
    for method in ("expr", "gemm"):
        spark_ids = [
            r["centroid_id"]
            for r in assign_nearest_mat(
                vec, mat, vec_col="vector", out_col="centroid_id", method=method
            ).orderBy("doc_id", "chunk_idx").collect()
        ]
        assert nearest_ids(X, mat, method).tolist() == spark_ids, method


def test_nearest_ids_ties_and_zero_rows_match_spark(spark):
    """Duplicate centroids tie (the lowest id wins) and a zero row
    scores 0 against every centroid, in both strategies."""
    import numpy as np

    from go_vectorsearch_spark.operators.assign import assign_nearest_mat, nearest_ids

    rng = np.random.default_rng(5)
    c = rng.uniform(-1, 1, (3, 8))
    mat = [(7, c[0]), (4, c[1]), (9, c[0]), (2, np.zeros(8)), (5, 2 * c[2])]
    X = np.vstack([c[0], np.zeros(8), c[2], -c[1], rng.uniform(-1, 1, (4, 8))]).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)], "i long, v array<float>"
    )
    for method in ("expr", "gemm"):
        got = [
            r["a"]
            for r in assign_nearest_mat(df, mat, vec_col="v", out_col="a", method=method)
            .orderBy("i").collect()
        ]
        assert nearest_ids(X, mat, method).tolist() == got, method
        assert got[0] == 7 and got[1] == 2


# ---------------------------------------------------------------------------
# mixed writers: Spark-written and pyarrow-written batches in one table
# ---------------------------------------------------------------------------


def test_mixed_writer_table_reads_compacts_and_rewrites(spark, tmp_path):
    import pyarrow as pa

    t = _VersionedTable(spark, str(tmp_path), "t", "id long, s string",
                        partition_expr="pmod(id, 4)")
    t.append(_rows(spark, range(6)))
    t.append(pa.Table.from_pylist([{"id": i, "s": f"r{i}"} for i in (6, 9, 21)]))
    t.append(_rows(spark, [13, 14]))
    want = sorted((i, f"r{i}") for i in [*range(6), 6, 9, 21, 13, 14])

    def check(rows):
        assert sorted(tuple(r) for r in t.read().collect()) == rows
        arrow = t.read_arrow()
        assert sorted(zip(arrow["id"].to_pylist(), arrow["s"].to_pylist())) == rows
        got, jobs = _jobs_of(spark, lambda: t.max_value("id"))
        assert (got, jobs) == (max(r[0] for r in rows), 0)

    check(want)
    # the Arrow batch routed each row to its pmod(id, 4) partition
    _v, parts = t._snapshot()
    assert sorted(k for k, dirs in parts.items() if any("w2" in d for d in dirs)) == ["1", "2"]
    assert t.compact() == ["1", "2"]  # the two partitions both writers touched
    check(want)
    t.replace_rows("id", spark.createDataFrame([(9,), (2,)], "id long"))
    want = [r for r in want if r[0] not in (9, 2)]
    check(want)
    t.append(pa.Table.from_pylist([{"id": 40, "s": "r40"}]))
    check(sorted(want + [(40, "r40")]))


def test_mixed_writer_engine_deletes_and_refreshes(spark, upload_engine):
    """Uploads write pyarrow batches; delete_documents and refresh_index
    rewrite with Spark. Over the mix every table reads the same through
    Spark and pyarrow, and search still finds the survivors."""
    eng, _ = upload_engine
    ids = eng.upload("acme", "mixed", [_doc(950 + i) for i in range(12)])
    assert eng.refresh_index("acme", "mixed", max_leaf=4) > 1  # Spark rewrite
    more = eng.upload("acme", "mixed", [_doc(970 + i) for i in range(6)])  # Arrow again
    assert eng.delete_documents("acme", "mixed", [ids[2], more[1]]) == 2
    eng.compact()
    assert eng.refresh_index("acme", "mixed", max_leaf=4) > 1
    live = sorted(set(ids + more) - {ids[2], more[1]})
    cid = eng._category_id("acme", "mixed")
    for name, t in eng.t.items():
        spark_rows = sorted(
            tuple(tuple(x) if isinstance(x, list) else x for x in r)
            for r in t.read().collect()
        )
        arrow = t.read_arrow().to_pylist()
        arrow_rows = sorted(
            tuple(tuple(x) if isinstance(x, list) else x for x in r.values())
            for r in arrow
        )
        assert spark_rows == arrow_rows, name
    emb_docs = eng.t["embeddings"].lookup(["document_id"], {"document_id": live})
    assert sorted({r[0] for r in emb_docs}) == live
    hit = eng.search("acme", "mixed", "any query", count=len(live) + 2, nprobe=-1)
    assert sorted(r["document_id"] for r in hit.collect()) == live
    assert eng.t["documents"].lookup(["document_id"], {"category_id": cid, "document_id": [ids[2], more[1]]}) == []


# ---------------------------------------------------------------------------
# crash windows of the Arrow append
# ---------------------------------------------------------------------------


def _fail_commit(monkeypatch, table):
    """Make the commit of ``table`` raise after its batch files are
    written, as a crash before the pointer moves would leave them."""
    orig = api.versioned.commit

    def commit(path, v, manifest):
        if path == table.dir:
            raise RuntimeError("crash before commit")
        return orig(path, v, manifest)

    monkeypatch.setattr(api.versioned, "commit", commit)


def _batch_parts(table, v):
    return sorted(os.listdir(os.path.join(table.dir, "_data", f"w{v}")))


def test_crash_before_documents_commit_leaves_no_rows(spark, upload_engine, monkeypatch):
    eng, _ = upload_engine
    docs_t, emb_t = eng.t["documents"], eng.t["embeddings"]
    v_docs, v_emb = docs_t._version(), emb_t._version()
    top = docs_t.max_value("document_id")
    _fail_commit(monkeypatch, docs_t)
    with pytest.raises(RuntimeError, match="crash before commit"):
        eng.upload("acme", "wiki", [_doc(1000 + i) for i in range(8)])
    assert (docs_t._version(), emb_t._version()) == (v_docs, v_emb)
    # the orphan batch is on disk: eight consecutive ids, eight buckets
    assert len(_batch_parts(docs_t, v_docs + 1)) == 8
    assert docs_t.max_value("document_id") == top
    assert docs_t.lookup(["document_id"], {"document_id": list(range(top + 1, top + 9))}) == []
    monkeypatch.undo()
    again = eng.upload("acme", "wiki", [_doc(1010)])
    assert again == [top + 1]
    # the retry reclaimed w{v}: only its own bucket is left there
    assert _batch_parts(docs_t, v_docs + 1) == [f"_p={(top + 1) % api.N_DOC_BUCKETS}"]
    got = docs_t.read().filter(F.col("document_id") > top).collect()
    assert [(r["document_id"], r["name"]) for r in got] == [(top + 1, "U1010")]


def test_crash_between_documents_and_embeddings_leaves_zombies(
    spark, upload_engine, monkeypatch
):
    """Documents commit first: a crash before the embeddings commit
    leaves documents without vectors, and the next upload allocates ids
    after them and reclaims the orphan embeddings batch."""
    eng, _ = upload_engine
    docs_t, emb_t = eng.t["documents"], eng.t["embeddings"]
    v_emb = emb_t._version()
    top = docs_t.max_value("document_id")
    _fail_commit(monkeypatch, emb_t)
    zombies = list(range(top + 1, top + 9))
    with pytest.raises(RuntimeError, match="crash before commit"):
        eng.upload("acme", "wiki", [_doc(1100 + i) for i in range(8)])
    assert emb_t._version() == v_emb
    assert sorted(r[0] for r in docs_t.lookup(["document_id"], {"document_id": zombies})) == zombies
    assert emb_t.lookup(["embedding_id"], {"document_id": zombies}) == []
    orphan = _batch_parts(emb_t, v_emb + 1)
    monkeypatch.undo()
    again = eng.upload("acme", "wiki", [_doc(1110)])
    assert again == [top + 9]
    (row,) = emb_t.lookup(["centroid_id"], {"document_id": again})
    # the eight-document orphan spread over more lists than the retry's one chunk
    assert len(orphan) > 1
    assert _batch_parts(emb_t, v_emb + 1) == [f"_p={row[0]}"]
    assert emb_t.lookup(["embedding_id"], {"document_id": zombies}) == []

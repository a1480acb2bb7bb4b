"""S10/M1: HTTP service surface round-trip tests.

Spins the real handler (service.make_server) on a loopback port and
drives it with http.client — request/response JSON must match the
reference server structs (server/upload.go:24-38, search.go:26-43,
fetch.go:19-25, chat.go:23-29), the zstd Content-Encoding middleware
must round-trip (main.go:128-167), and /api/chat must stream the
stub LLM's NDJSON as a chunked text stream (server/chat.go:85-105 +
ai/ollama/chat.go:92-155).
"""

from __future__ import annotations

import http.client
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pytest

from go_vectorsearch_spark.api import Engine
from go_vectorsearch_spark.service import make_server

DOCS = [
    {"name": "Doc A", "external_id": "a", "document": {"title": "alpha", "body": "spark shuffles data"}},
    {"name": "Doc B", "external_id": "b", "document": {"title": "beta", "body": "catalyst optimizes plans"}},
    {"name": "Doc C", "external_id": "c", "document": "plain string payload"},
]


class _StubLLM(BaseHTTPRequestHandler):
    """NDJSON chat stream, echoing how many messages it got."""

    def do_POST(self):
        n = int(self.headers["Content-Length"])
        req = json.loads(self.rfile.read(n))
        self.server.requests.append(req)
        lines = [
            {"message": {"role": "assistant", "content": "Hello "}, "done": False},
            {"message": {"role": "assistant", "content": f"({len(req['messages'])} msgs)"}, "done": False},
            {"message": {"role": "assistant", "content": ""}, "done": True},
        ]
        body = b"".join(json.dumps(l).encode() + b"\n" for l in lines)
        self.send_response(200)
        self.send_header("Content-Type", "application/x-ndjson")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("svc_root")))

    llm = ThreadingHTTPServer(("127.0.0.1", 0), _StubLLM)
    llm.requests = []
    threading.Thread(target=llm.serve_forever, daemon=True).start()

    srv = make_server(eng, llm_base=f"http://127.0.0.1:{llm.server_port}", llm_model="m")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield eng, srv.server_port, llm
    srv.shutdown()
    srv.server_close()
    llm.shutdown()
    llm.server_close()


def _call(port, path, payload=None, method="POST", headers=None, raw_body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    body = raw_body if raw_body is not None else json.dumps(payload or {}).encode()
    conn.request(method, path, body=body, headers={"Content-Type": "application/json", **(headers or {})})
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp, data


def test_upload_search_roundtrip_matches_engine(served):
    eng, port, _ = served
    resp, data = _call(port, "/api/upload", {"owner": "acme", "category": "wiki", "documents": DOCS})
    assert resp.status == 200
    ids = json.loads(data)["document_ids"]
    assert len(ids) == 3

    resp, data = _call(port, "/api/search", {"owner": "acme", "category": "wiki", "text": "spark shuffles", "count": 3, "centroids": -1})
    assert resp.status == 200
    docs = json.loads(data)["documents"]
    assert 1 <= len(docs) <= 3
    # response carries the reference's DocumentSearch fields with the
    # original (deserialized) document payload
    for d in docs:
        assert set(d) == {"name", "external_id", "document", "document_id", "document_similarity"}
    # parity with the Engine-direct call
    direct = eng.search("acme", "wiki", "spark shuffles", count=3, nprobe=-1).collect()
    assert [d["document_id"] for d in docs] == [r["document_id"] for r in direct]
    assert [d["document_similarity"] for d in docs] == pytest.approx([r["score"] for r in direct])


@pytest.mark.slow
def test_categories_and_deletes(served):
    eng, port, _ = served
    _call(port, "/api/upload", {"owner": "acme", "category": "wiki", "documents": DOCS})
    _call(port, "/api/upload", {"owner": "acme", "category": "blog", "documents": [DOCS[0]]})
    _call(port, "/api/upload", {"owner": "other", "category": "misc", "documents": [DOCS[1]]})
    resp, data = _call(port, "/api/categories", {"owner": "acme"})
    assert json.loads(data)["category_names"] == ["blog", "wiki"]

    resp, data = _call(port, "/api/delete/category", {"owner": "acme", "category": "blog"}, method="DELETE")
    assert resp.status == 200 and json.loads(data) == {}
    resp, data = _call(port, "/api/categories", {"owner": "acme"})
    assert json.loads(data)["category_names"] == ["wiki"]

    resp, data = _call(port, "/api/delete/owner", {"owner": "other"})
    assert resp.status == 200
    assert eng.fetch_category_names("other") == []

    # delete one document; search must no longer return it
    resp, data = _call(port, "/api/search", {"owner": "acme", "category": "wiki", "text": "alpha", "count": 5, "centroids": -1})
    before = {d["document_id"] for d in json.loads(data)["documents"]}
    victim = sorted(before)[0]
    # tenant scoping (server/delete.go:252-279): a delete request naming
    # the WRONG owner/category must not touch the document
    _call(port, "/api/delete/document", {"owner": "mallory", "category": "wiki", "document_id": victim})
    _call(port, "/api/delete/document", {"owner": "acme", "category": "nope", "document_id": victim})
    resp, data = _call(port, "/api/search", {"owner": "acme", "category": "wiki", "text": "alpha", "count": 5, "centroids": -1})
    assert victim in {d["document_id"] for d in json.loads(data)["documents"]}
    # correctly-scoped delete removes it
    _call(port, "/api/delete/document", {"owner": "acme", "category": "wiki", "document_id": victim})
    resp, data = _call(port, "/api/search", {"owner": "acme", "category": "wiki", "text": "alpha", "count": 5, "centroids": -1})
    after = {d["document_id"] for d in json.loads(data)["documents"]}
    assert victim not in after


def test_method_not_allowed_and_404(served):
    _, port, _ = served
    resp, data = _call(port, "/api/upload", method="GET")
    assert resp.status == 405 and b"Invalid request method" in data
    resp, _ = _call(port, "/api/nope", {})
    assert resp.status == 404


def test_get_with_query_string(served):
    """GET routes carry parameters in the query string: routing must
    match on the bare path and the params must reach the service body."""
    eng, port, _ = served
    resp, data = _call(
        port,
        "/api/search?owner=acme&category=wiki&text=spark+shuffles&count=3&centroids=-1",
        method="GET",
        raw_body=b"",
    )
    assert resp.status == 200
    docs = json.loads(data)["documents"]
    direct = eng.search("acme", "wiki", "spark shuffles", count=3, nprobe=-1).collect()
    assert [d["document_id"] for d in docs] == [r["document_id"] for r in direct]
    resp, data = _call(port, "/api/categories?owner=acme", method="GET", raw_body=b"")
    assert resp.status == 200 and "wiki" in json.loads(data)["category_names"]


def test_count_zero_clamps_like_engine(served):
    """count=0 (and a missing count — Go's JSON zero value) must reach
    the engine clamp and come back as ONE document, not a service-side
    default (server/search.go:116)."""
    _, port, _ = served
    for payload in (
        {"owner": "acme", "category": "wiki", "text": "spark", "count": 0, "centroids": -1},
        {"owner": "acme", "category": "wiki", "text": "spark", "centroids": -1},
    ):
        resp, data = _call(port, "/api/search", payload)
        assert resp.status == 200
        assert len(json.loads(data)["documents"]) == 1


def test_keep_alive_error_paths_drain_body(served):
    """404/405 on a persistent connection must drain the request body so
    the next pipelined request is parsed from a clean stream."""
    _, port, _ = served
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    body = json.dumps({"junk": "x" * 512}).encode()
    conn.request("POST", "/api/nope", body=body, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    assert resp.status == 404
    resp.read()
    # reuse the SAME connection: a desynced stream would 400/garbage here
    conn.request(
        "POST",
        "/api/categories",
        body=json.dumps({"owner": "acme"}).encode(),
        headers={"Content-Type": "application/json"},
    )
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    assert resp.status == 200 and "category_names" in json.loads(data)


def test_zstd_request_and_response_middleware(served):
    """Content-Encoding: zstd requests decompress; Accept-Encoding: zstd
    search responses compress (main.go:128-167)."""
    _, port, _ = served
    # self-sufficient: upload the searched corpus here so the test does
    # not depend on module ordering (a -k selection that skips the
    # earlier upload tests would otherwise search an empty category)
    _call(port, "/api/upload", {"owner": "acme", "category": "wiki", "documents": DOCS})
    payload = json.dumps(
        {"owner": "acme", "category": "wiki", "text": "catalyst", "count": 2, "centroids": -1}
    ).encode()
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(payload)
    resp, data = _call(
        port,
        "/api/search",
        raw_body=bytes(sink.getvalue()),
        headers={"Content-Encoding": "zstd", "Accept-Encoding": "zstd"},
    )
    assert resp.status == 200
    assert resp.getheader("Content-Encoding") == "zstd"
    plain = pa.input_stream(pa.BufferReader(data), compression="zstd").read()
    docs = json.loads(plain)["documents"]
    assert len(docs) >= 1


def test_chat_streams_ndjson_fragments(served):
    """M1 end-to-end: ChatRequest -> message assembly -> stub LLM NDJSON
    -> chunked text stream; history alternation reaches the provider."""
    _, port, llm = served
    resp, data = _call(
        port,
        "/api/chat",
        {"text": "what is spark?", "history": ["hi", "hello"], "document_ids": [1]},
    )
    assert resp.status == 200
    assert resp.getheader("Content-Type") == "text/plain"
    # stub emits two fragments then done; golden concatenation.
    # 3 messages: 2 history turns + ONE final user message that folds the
    # quoted document context into the question (chat.go:142-175 appends
    # context to the question content, not as an extra message)
    assert data.decode() == "Hello (3 msgs)"
    sent = llm.requests[-1]
    assert sent["stream"] is True and sent["model"] == "m"
    roles = [m["role"] for m in sent["messages"]]
    assert roles == ["user", "assistant", "user"]
    assert "My question is: " in sent["messages"][-1]["content"]


def test_chat_without_provider_501(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "nochat"))
    srv = make_server(eng)  # no llm_base
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        resp, data = _call(srv.server_port, "/api/chat", {"text": "x"})
        assert resp.status == 501
        assert b"no chat provider" in data
    finally:
        srv.shutdown()
        srv.server_close()


def test_concurrent_uploads_lose_no_rows(served):
    """The mutation lock's contract: N racing uploads (read-modify-write
    of the versioned documents table) all land — every returned id is
    unique and every document is searchable afterwards. Without the
    lock, two writers reading the same base version would drop each
    other's rows on the pointer flip."""
    eng, port, _llm = served
    n_threads, per_batch = 4, 3
    results: list = [None] * n_threads

    def upload(i: int) -> None:
        docs = [
            {
                "name": f"cc{i}-{j}",
                "external_id": f"cc{i}-{j}",
                "document": {"t": f"race doc {i} {j}"},
            }
            for j in range(per_batch)
        ]
        # generous client timeout: the engine lock SERIALIZES the four
        # copy-on-write upload cycles, so the last response legitimately
        # waits for all predecessors — on a contended host that can pass
        # the default 120 s without any row being lost
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=600)
        conn.request(
            "POST",
            "/api/upload",
            body=json.dumps(
                {"owner": "racer", "category": "cc", "documents": docs}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        data = resp.read()
        conn.close()
        results[i] = (resp.status, json.loads(data))

    threads = [threading.Thread(target=upload, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(r is not None and r[0] == 200 for r in results), results
    ids = [d for _s, body in results for d in body["document_ids"]]
    assert len(ids) == n_threads * per_batch
    assert len(set(ids)) == len(ids), "duplicate document ids across racers"
    from pyspark.sql import functions as F

    stored = (
        eng.t["documents"]
        .read()
        .filter(F.col("name").startswith("cc"))
        .count()
    )
    assert stored == n_threads * per_batch, "a racing upload lost rows"


def test_search_offset_pages_match_engine(served):
    """The offset parameter pages through ranked results without overlap
    or gaps, matching the Engine-direct call (server/search.go:312-331)."""
    eng, port, _ = served
    base = {"owner": "acme", "category": "wiki", "text": "spark", "centroids": -1}
    _resp, d1 = _call(port, "/api/search", {**base, "count": 2, "offset": 0})
    _resp, d2 = _call(port, "/api/search", {**base, "count": 2, "offset": 2})
    p1 = [d["document_id"] for d in json.loads(d1)["documents"]]
    p2 = [d["document_id"] for d in json.loads(d2)["documents"]]
    assert not (set(p1) & set(p2)), "adjacent pages overlap"
    direct = [
        r["document_id"]
        for r in eng.search("acme", "wiki", "spark", count=4, nprobe=-1).collect()
    ]
    assert p1 + p2 == direct[: len(p1 + p2)]


def test_search_mmr_field(served):
    """The extension "mmr" field diversifies the page via
    Engine.search_diverse; λ=1.0 must reproduce the plain route's page,
    and a malformed value is the client's error (400)."""
    eng, port, _ = served
    eng.upload(
        "acme",
        "mmrcat",
        [
            {"name": f"m{i}", "external_id": f"m{i}", "document": json.dumps(t)}
            for i, t in enumerate(
                [
                    "spark shuffles data between stages",
                    "catalyst optimizes logical plans",
                    "parquet stores columnar row groups",
                    "tungsten manages off heap memory",
                ]
            )
        ],
    )
    base = {"owner": "acme", "category": "mmrcat", "text": "spark",
            "centroids": -1, "count": 3}
    _resp, plain = _call(port, "/api/search", base)
    _resp, mmr1 = _call(port, "/api/search", {**base, "mmr": 1.0})
    assert json.loads(mmr1) == json.loads(plain)
    resp, body = _call(port, "/api/search", {**base, "mmr": 0.5})
    assert resp.status == 200
    docs = json.loads(body)["documents"]
    assert docs and all("document_similarity" in d for d in docs)
    for bad in ("high", 1.5, -0.1):
        resp, _ = _call(port, "/api/search", {**base, "mmr": bad})
        assert resp.status == 400, f"mmr={bad!r} should be a 400"


@pytest.mark.slow
def test_admin_neardup_route(served):
    """/api/admin/neardup builds the band index and checks candidate
    texts; /api/upload honors neardup='skip' against it."""
    eng, port, _ = served
    base_text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill and the birds sing loudly"
    )
    eng.upload(
        "acme",
        "ndcat",
        [{"name": "b", "external_id": "b", "document": json.dumps(base_text)}],
    )
    resp, body = _call(
        port, "/api/admin/neardup",
        {"owner": "acme", "category": "ndcat", "build": True},
    )
    assert resp.status == 200 and json.loads(body)["indexed"] == 1
    # check WITHOUT uploading: the exact stored text matches at 1.0 —
    # the route flatten()s each text (the upload path's normalization),
    # so the RAW text matches without the caller appending the period
    resp, body = _call(
        port, "/api/admin/neardup",
        {"owner": "acme", "category": "ndcat",
         "texts": [base_text, "totally novel vocabulary everywhere"]},
    )
    m = json.loads(body)["matches"]
    assert [x["index"] for x in m] == [0] and m[0]["jaccard"] == 1.0
    # upload with skip: the duplicate slot resolves to the stored id
    resp, body = _call(
        port, "/api/upload",
        {"owner": "acme", "category": "ndcat", "neardup": "skip",
         "documents": [{"name": "d", "external_id": "d",
                        "document": base_text + "."}]},
    )
    ids = json.loads(body)["document_ids"]
    assert len(ids) == 1
    stored = {x["document_id"] for x in m}
    assert ids[0] in stored
    # neardup_threshold plumbs through: a ~0.87-jaccard near-dup is
    # FRESH at a 0.95 bar (it would be skipped at the 0.5 default)
    resp, body = _call(
        port, "/api/upload",
        {"owner": "acme", "category": "ndcat", "neardup": "skip",
         "neardup_threshold": 0.95,
         "documents": [{"name": "nt", "external_id": "nt",
                        "document": base_text + " extra trailing words"}]},
    )
    assert resp.status == 200
    assert json.loads(body)["document_ids"][0] not in stored
    # malformed threshold is a 400
    resp, _ = _call(
        port, "/api/upload",
        {"owner": "acme", "category": "ndcat", "neardup": "skip",
         "neardup_threshold": "high",
         "documents": [{"name": "y", "external_id": "y", "document": "z"}]},
    )
    assert resp.status == 400
    # client errors are 400s: bad mode, check without an index
    resp, _ = _call(
        port, "/api/upload",
        {"owner": "acme", "category": "ndcat", "neardup": "flag",
         "documents": [{"name": "x", "external_id": "x", "document": "y"}]},
    )
    assert resp.status == 400
    resp, _ = _call(
        port, "/api/admin/neardup",
        {"owner": "acme", "category": "wiki", "texts": ["z"]},
    )
    assert resp.status == 400


def test_admin_substr_route(served):
    """/api/admin/substr reports duplication, cuts duplicated spans
    (keeper-protected), and reports/cuts benchmark contamination."""
    eng, port, _ = served
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    eng.upload(
        "acme", "sbcat",
        [{"name": "a", "external_id": "a",
          "document": json.dumps(f"{shared} tail words here.")},
         {"name": "b", "external_id": "b",
          "document": json.dumps(f"lead in {shared}.")}],
    )
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "sbcat", "report": True, "L": 4},
    )
    assert resp.status == 200
    rep = json.loads(body)["report"]
    assert len(rep) == 2 and all(r["n_spans"] >= 1 for r in rep)
    # contamination report (no cut)
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "sbcat", "L": 4,
         "decontaminate": [shared]},
    )
    assert resp.status == 200
    assert len(json.loads(body)["contaminated"]) == 2
    # keeper-protected cut with re_embed: exactly one copy of the
    # passage survives AND the cut document's embedding rows are swapped
    emb_before = {
        r["embedding_id"] for r in eng.t["embeddings"].read().collect()
    }
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "sbcat", "cut": True, "L": 4,
         "re_embed": True},
    )
    assert resp.status == 200
    assert json.loads(body)["cut_documents"] == 1
    emb_after = {
        r["embedding_id"] for r in eng.t["embeddings"].read().collect()
    }
    assert emb_after != emb_before  # stale rows left, fresh rows landed
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "sbcat", "report": True, "L": 4},
    )
    assert json.loads(body)["report"] == []
    # malformed input and unknown scope are 400s
    for bad in (
        {"owner": "acme", "category": "sbcat", "report": True, "L": "x"},
        {"owner": "acme", "category": "sbcat", "cut": True, "iterate": 0},
        {"owner": "acme", "category": "sbcat", "cut": True, "re_embed": "yes"},
        {"owner": "acme", "category": "sbcat", "decontaminate": "notalist"},
        {"owner": "acme", "category": "ghostcat", "report": True},
    ):
        resp, _ = _call(port, "/api/admin/substr", bad)
        assert resp.status == 400, f"{bad} should be a 400"
    # engine-INTERNAL ValueErrors surface as 500s, never 400-masqueraded
    # (the upload route's NearDupIndexMissing discipline): the route
    # resolves the category up front and has no blanket ValueError net
    orig = eng.substr_dedup_cut

    def boom(*a, **k):
        raise ValueError("engine internal")

    eng.substr_dedup_cut = boom
    try:
        resp, _ = _call(
            port, "/api/admin/substr",
            {"owner": "acme", "category": "sbcat", "cut": True},
        )
        assert resp.status == 500
    finally:
        eng.substr_dedup_cut = orig


def test_admin_substr_boilerplate_keys(served):
    """Line-level curation on the same route: {"boilerplate_report"}
    lists hot corpus lines at "min_df", {"boilerplate_cut"} strips them
    through the write path; min_df is validated like L."""
    eng, port, _ = served
    foot = "shared footer every page carries"
    eng.upload(
        "acme", "bpcat",
        [{"name": f"d{i}", "external_id": f"bp{i}",
          "document": json.dumps([f"article body number {i}", foot])}
         for i in range(3)],
    )
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "bpcat",
         "boilerplate_report": True, "min_df": 3},
    )
    assert resp.status == 200
    rep = json.loads(body)["boilerplate"]
    assert rep == [{"line": f"{foot}.", "n_docs": 3}]
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "bpcat",
         "boilerplate_cut": True, "min_df": 3},
    )
    assert resp.status == 200
    assert json.loads(body)["boilerplate_cut_documents"] == 3
    resp, body = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "bpcat",
         "boilerplate_report": True, "min_df": 3},
    )
    assert json.loads(body)["boilerplate"] == []
    resp, _ = _call(
        port, "/api/admin/substr",
        {"owner": "acme", "category": "bpcat",
         "boilerplate_report": True, "min_df": 1},
    )
    assert resp.status == 400  # min_df >= 2, like L


def test_admin_compact_route(served):
    """/api/admin/compact sweeps table fragmentation and, per category,
    the postings and band stores."""
    eng, port, _ = served
    text = (
        "compactable content with enough distinct tokens to index and "
        "band reliably across the maintenance sweep boundary"
    )
    eng.upload("acme", "cpcat",
               [{"name": "a", "external_id": "a", "document": json.dumps(text)}])
    eng.build_text_index("acme", "cpcat")
    eng.build_neardup_index("acme", "cpcat")
    resp, body = _call(
        port, "/api/admin/compact", {"owner": "acme", "category": "cpcat"}
    )
    assert resp.status == 200
    d = json.loads(body)
    assert d["text_index"] is True and d["neardup_rows"] == 4
    assert "tables" in d
    # searches still work over the compacted stores
    direct = eng.search_hybrid("acme", "cpcat", "compactable", count=1).collect()
    assert len(direct) == 1
    resp, _ = _call(
        port, "/api/admin/compact", {"owner": "acme", "category": "missing"}
    )
    assert resp.status == 400


def test_chat_accepts_zstd_request_body(served):
    """The zstd request-decompression middleware wraps every API route
    (main.go:128-145) — including chat, whose response then streams
    uncompressed like the reference."""
    from go_vectorsearch_spark.service import _zstd_compress

    _, port, _ = served
    body = _zstd_compress(
        json.dumps({"text": "ping?", "history": [], "document_ids": []}).encode()
    )
    resp, data = _call(
        port,
        "/api/chat",
        raw_body=body,
        headers={"Content-Encoding": "zstd"},
    )
    assert resp.status == 200
    assert resp.getheader("Content-Encoding") is None  # stream uncompressed
    assert data.decode() == "Hello (1 msgs)"


@pytest.mark.slow
def test_hybrid_route_and_admin_refresh(served):
    """Extension routes: /api/admin/refresh (re)builds indexes for the
    category, /api/search_hybrid then serves the fused ranking with the
    exact /api/search response shape and Engine-direct parity."""
    eng, port, _ = served
    _call(port, "/api/upload", {"owner": "hyb", "category": "docs", "documents": DOCS})

    # hybrid before a text index exists -> 500 with a clear error
    resp, data = _call(port, "/api/search_hybrid", {"owner": "hyb", "category": "docs", "text": "spark"})
    assert resp.status == 500 and b"build_text_index" in data

    eng.build_text_index("hyb", "docs")
    resp, data = _call(port, "/api/search_hybrid", {"owner": "hyb", "category": "docs", "text": "spark shuffles", "count": 3, "centroids": -1})
    assert resp.status == 200
    docs = json.loads(data)["documents"]
    assert docs, "hybrid returned no documents"
    for d in docs:
        assert set(d) == {"name", "external_id", "document", "document_id", "document_similarity"}
    direct = eng.search_hybrid("hyb", "docs", "spark shuffles", count=3, nprobe=-1).collect()
    assert [d["document_id"] for d in docs] == [r["document_id"] for r in direct]

    # admin refresh: scoped form refreshes this category's centroids AND
    # rebuilds its existing text index; hybrid still answers afterwards
    resp, data = _call(port, "/api/admin/refresh", {"owner": "hyb", "category": "docs"})
    assert resp.status == 200
    body = json.loads(data)
    assert [(e["owner"], e["category"]) for e in body["centroids"]] == [("hyb", "docs")]
    assert body["centroids"][0]["centroids"] >= 1
    resp, data = _call(port, "/api/search_hybrid", {"owner": "hyb", "category": "docs", "text": "spark shuffles", "count": 3, "centroids": -1})
    assert resp.status == 200 and json.loads(data)["documents"]

    # sweep form touches every category (>= the ones this test made)
    resp, data = _call(port, "/api/admin/refresh", {})
    assert resp.status == 200
    swept = {(e["owner"], e["category"]) for e in json.loads(data)["centroids"]}
    assert ("hyb", "docs") in swept


def test_admin_stats_route(served):
    eng, port, _ = served
    resp, data = _call(port, "/api/admin/stats", method="GET")
    assert resp.status == 200
    body = json.loads(data)
    assert set(body) == {"tables", "categories"}
    assert body["tables"]["documents"]["rows"] == sum(
        c["documents"] for c in body["categories"]
    )


@pytest.mark.slow
def test_hybrid_searches_survive_concurrent_rebuild(served):
    """Snapshot isolation end-to-end: lock-free /api/search_hybrid
    requests racing an /api/admin/refresh (which rebuilds the text
    index in place) must all succeed and return documents — no reader
    ever sees a half-written postings layout."""
    import threading as _t

    eng, port, _ = served
    _call(port, "/api/upload", {"owner": "race", "category": "c", "documents": DOCS})
    eng.build_text_index("race", "c")

    errors, oks = [], []

    def searcher():
        for _ in range(6):
            resp, data = _call(port, "/api/search_hybrid", {
                "owner": "race", "category": "c",
                "text": "spark shuffles plans", "count": 3, "centroids": -1,
            })
            if resp.status != 200:
                errors.append(data[:200])
            else:
                oks.append(len(json.loads(data)["documents"]))

    def refresher():
        for _ in range(2):
            resp, data = _call(port, "/api/admin/refresh", {"owner": "race", "category": "c"})
            if resp.status != 200:
                errors.append(data[:200])

    threads = [_t.Thread(target=searcher) for _ in range(3)] + [_t.Thread(target=refresher)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert oks and all(n >= 1 for n in oks)


class _StubOpenAILLM(BaseHTTPRequestHandler):
    """SSE chat stream (ai/openai/chat.go shape): `data: {...}` lines,
    a blank keep-alive between events, a `data: [DONE]` sentinel, and a
    final chunk carrying finish_reason."""

    def do_POST(self):
        n = int(self.headers["Content-Length"])
        req = json.loads(self.rfile.read(n))
        self.server.requests.append((self.path, req))
        chunks = [
            {"choices": [{"index": 0, "delta": {"content": "Hi "},
                          "finish_reason": ""}]},
            {"choices": [{"index": 0,
                          "delta": {"content": f"({len(req['messages'])} msgs)"},
                          "finish_reason": ""}]},
            {"choices": [{"index": 0, "delta": {"content": ""},
                          "finish_reason": "stop"}]},
        ]
        body = b""
        for c in chunks:
            body += b"data: " + json.dumps(c).encode() + b"\n\n"
        body += b"data: [DONE]\n\n"
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


class _StubGenerate(BaseHTTPRequestHandler):
    """Provider-side /api/generate and /v1/completions stub. Both paths
    answer with the reference's ollama-field GenerateResponse shape —
    the reference decodes the OpenAI generate path with the SAME struct
    and line loop as the ollama one (openai/generate.go:73-77,130-144),
    so one stub covers both wire kinds; requests are recorded for
    path/body asserts."""

    def do_POST(self):
        n = int(self.headers["Content-Length"])
        req = json.loads(self.rfile.read(n))
        self.server.requests.append((self.path, req))
        if req.get("stream"):
            lines = [
                {"response": "once ", "done": False},
                {"response": f"upon {req['model']}", "done": False},
                {"response": "", "done": True},
            ]
            body = b"".join(json.dumps(l).encode() + b"\n" for l in lines)
            ctype = "application/x-ndjson"
        else:
            body = json.dumps({
                "model": req["model"],
                "response": f"echo:{req['prompt']}",
                "done": True,
                "context": [1, 2, 3],
                "eval_count": 7,
            }).encode()
            ctype = "application/json"
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_generate_one_shot_and_stream_both_provider_kinds():
    """Generate/GenerateStream provider parity (ai/interface.go:16-20):
    one-shot returns the decoded GenerateResponse object; the stream
    yields NDJSON "response" fragments until done; kind switches the
    route (/api/generate vs /v1/completions) and nothing else — the
    reference's own decode is provider-independent for generate."""
    from go_vectorsearch_spark.service import generate, generate_stream

    stub = ThreadingHTTPServer(("127.0.0.1", 0), _StubGenerate)
    stub.requests = []
    threading.Thread(target=stub.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{stub.server_port}"
    try:
        for kind, path in (("ollama", "/api/generate"),
                           ("openai", "/v1/completions")):
            stub.requests.clear()
            out = generate(base, "tell me", model="m", kind=kind,
                           token="tok", system="be brief")
            assert out["response"] == "echo:tell me" and out["done"]
            assert out["context"] == [1, 2, 3] and out["eval_count"] == 7
            got_path, got_req = stub.requests[0]
            assert got_path == path
            assert got_req["stream"] is False
            assert got_req["options"] == {"num_ctx": 2048}
            assert got_req["system"] == "be brief"  # extra field rides along

            frags = list(generate_stream(base, "story", model="m", kind=kind))
            assert frags == ["once ", "upon m", ""]
            got_path, got_req = stub.requests[1]
            assert got_path == path and got_req["stream"] is True
    finally:
        stub.shutdown()
        stub.server_close()


def test_chat_streams_openai_sse(spark, tmp_path):
    """The chat path speaks BOTH provider wire shapes: an OpenAI-shaped
    endpoint (SSE `data:` lines, [DONE] sentinel, finish_reason stop —
    ai/openai/chat.go:101-174) streams through /api/chat identically to
    the Ollama NDJSON shape, and the request goes to
    /v1/chat/completions."""
    eng = Engine(spark, str(tmp_path / "sse_root"))
    llm = ThreadingHTTPServer(("127.0.0.1", 0), _StubOpenAILLM)
    llm.requests = []
    threading.Thread(target=llm.serve_forever, daemon=True).start()
    srv = make_server(
        eng,
        llm_base=f"http://127.0.0.1:{llm.server_port}",
        llm_model="m",
        llm_kind="openai",
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        resp, data = _call(
            port := srv.server_port,
            "/api/chat",
            {"text": "what is spark?", "history": ["hi", "hello"]},
        )
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/plain"
        assert data.decode() == "Hi (3 msgs)"
        path, sent = llm.requests[-1]
        assert path == "/v1/chat/completions"
        assert sent["stream"] is True and sent["model"] == "m"
    finally:
        srv.shutdown()
        srv.server_close()
        llm.shutdown()
        llm.server_close()


def test_chat_provider_ordered_fallback(spark, tmp_path):
    """llm_providers mirrors the embed source's ordered fallback
    (ai/methods.go:24-32): ollama listed first but UNCONFIGURED (empty
    base) falls through to the configured OpenAI provider."""
    eng = Engine(spark, str(tmp_path / "fb_root"))
    llm = ThreadingHTTPServer(("127.0.0.1", 0), _StubOpenAILLM)
    llm.requests = []
    threading.Thread(target=llm.serve_forever, daemon=True).start()
    srv = make_server(
        eng,
        llm_model="m",
        llm_providers=[
            ("ollama", ""),
            ("openai", f"http://127.0.0.1:{llm.server_port}"),
        ],
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        resp, data = _call(srv.server_port, "/api/chat", {"text": "q"})
        assert resp.status == 200
        assert data.decode().startswith("Hi ")
        assert llm.requests[-1][0] == "/v1/chat/completions"
        # unknown kind is rejected at construction
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown chat provider"):
            make_server(eng, llm_providers=[("grpc", "http://x")])
    finally:
        srv.shutdown()
        srv.server_close()
        llm.shutdown()
        llm.server_close()


def test_tls_serving_round_trip(spark, tmp_path):
    """tls=True serves HTTPS with a self-signed pair auto-generated
    under the engine root (generateMissingCertificates parity,
    config/config_tls.go:124-174); a TLS client round-trips the same
    JSON routes."""
    import os
    import ssl

    eng = Engine(spark, str(tmp_path / "tls_root"))
    try:
        srv = make_server(eng, tls=True)
    except RuntimeError as e:
        import pytest as _pytest

        _pytest.skip(f"no openssl CLI: {e}")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        assert os.path.exists(f"{eng.root}/tls/cert.pem")
        ctx = ssl._create_unverified_context()  # self-signed
        conn = http.client.HTTPSConnection(
            "127.0.0.1", srv.server_port, timeout=120, context=ctx
        )
        body = json.dumps(
            {"owner": "acme", "category": "wiki", "documents": [DOCS[0]]}
        ).encode()
        conn.request("POST", "/api/upload", body=body,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        ids = json.loads(resp.read())["document_ids"]
        assert resp.status == 200 and len(ids) == 1
        conn.request("POST", "/api/categories",
                     body=json.dumps({"owner": "acme"}).encode(),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        assert json.loads(resp.read())["category_names"] == ["wiki"]
        conn.close()
        # a plain-HTTP client on the TLS port fails the handshake
        plain = http.client.HTTPConnection(
            "127.0.0.1", srv.server_port, timeout=5
        )
        import pytest as _pytest

        with _pytest.raises(Exception):
            plain.request("GET", "/api/categories")
            plain.getresponse()
        plain.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_static_file_serving(spark, tmp_path):
    """make_server(static_dir=) serves the UI files on every non-API
    GET — the reference mounts its embedded frontend at "/" behind the
    same headers + compression middleware (main.go:178): index fallback
    for "/" and directories, extension-derived MIME, zstd when the
    client accepts it, WASM isolation headers on every file, traversal
    blocked, API routes unaffected; without static_dir, "/" keeps
    answering 404 (pure-API deployments)."""
    ui = tmp_path / "ui"
    (ui / "assets").mkdir(parents=True)
    (ui / "index.html").write_text("<html>gvs-ui</html>")
    (ui / "assets" / "app.js").write_text("console.log('hi')")

    eng = Engine(spark, str(tmp_path / "static_root"))
    srv = make_server(eng, static_dir=str(ui))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_port
    try:
        resp, data = _call(port, "/", method="GET")
        assert resp.status == 200 and b"gvs-ui" in data
        assert "text/html" in resp.getheader("Content-Type")
        assert resp.getheader("Cross-Origin-Opener-Policy") == "same-origin"
        resp, data = _call(port, "/assets/app.js", method="GET")
        assert resp.status == 200 and b"console" in data
        assert "javascript" in resp.getheader("Content-Type")
        # zstd compression on request (middleware wraps static too)
        resp, data = _call(port, "/index.html", method="GET",
                           headers={"Accept-Encoding": "zstd"})
        assert resp.getheader("Content-Encoding") == "zstd"
        from go_vectorsearch_spark.service import _zstd_decompress
        assert b"gvs-ui" in _zstd_decompress(data)
        # traversal stays inside the root
        resp, _ = _call(port, "/../secrets.txt", method="GET")
        assert resp.status in (200, 404)  # normalized or rejected, never outside
        resp, data = _call(port, "/%2e%2e/secrets.txt", method="GET")
        assert resp.status == 404
        # unknown file 404s; API routes still dispatch
        resp, _ = _call(port, "/nope.css", method="GET")
        assert resp.status == 404
        resp, data = _call(port, "/api/categories", {"owner": "x"})
        assert resp.status == 200
    finally:
        srv.shutdown()
        srv.server_close()

    # no static_dir: "/" keeps the pure-API 404 shape
    srv2 = make_server(eng)
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        resp, _ = _call(srv2.server_port, "/", method="GET")
        assert resp.status == 404
    finally:
        srv2.shutdown()
        srv2.server_close()


def test_tls_certificate_hot_reload(spark, tmp_path):
    """Rotating the certificate files on disk serves the NEW certificate
    to the next connection without a restart — the reference's hourly
    reload loop (config/config_tls.go:37-47,110-120), here a throttled
    per-handshake mtime check. A live server keeps working across the
    swap."""
    import os
    import ssl
    import time

    from go_vectorsearch_spark.service import generate_self_signed_cert

    eng = Engine(spark, str(tmp_path / "tls_root"))
    try:
        cert, key = generate_self_signed_cert(
            str(tmp_path / "pair1"), cn="first.example"
        )
        cert2, key2 = generate_self_signed_cert(
            str(tmp_path / "pair2"), cn="second.example"
        )
    except RuntimeError as e:
        import pytest as _pytest

        _pytest.skip(f"no openssl CLI: {e}")
    srv = make_server(eng, tls_cert=cert, tls_key=key, tls_reload_s=0.0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def served_cn() -> str:
        ctx = ssl._create_unverified_context()
        # server_hostname triggers the SNI callback (every real client)
        with ctx.wrap_socket(
            __import__("socket").create_connection(
                ("127.0.0.1", srv.server_port), timeout=30
            ),
            server_hostname="x.example",
        ) as s:
            der = s.getpeercert(binary_form=True)
        # cheap CN extraction: the CN string is embedded verbatim
        for cn in ("first.example", "second.example"):
            if cn.encode() in der:
                return cn
        raise AssertionError("no known CN in served certificate")

    try:
        assert served_cn() == "first.example"
        # rotate: overwrite the files the server was configured with
        import shutil

        shutil.copyfile(cert2, cert)
        shutil.copyfile(key2, key)
        # ensure the mtime actually moves on coarse filesystems
        now = time.time() + 2
        os.utime(cert, (now, now))
        os.utime(key, (now, now))
        assert served_cn() == "second.example"
        # the engine still answers over the rotated certificate
        ctx = ssl._create_unverified_context()
        conn = http.client.HTTPSConnection(
            "127.0.0.1", srv.server_port, timeout=120, context=ctx
        )
        conn.request("POST", "/api/categories",
                     body=json.dumps({"owner": "nobody"}).encode(),
                     headers={"Content-Type": "application/json"})
        assert conn.getresponse().status == 200
        conn.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_hybrid_route_filter_object(served):
    """The JSON filter object is the wire form of search_hybrid(where=):
    name_prefix / external_id / document_ids AND-combine and pre-filter
    both legs; unknown keys error."""
    from pyspark.sql import functions as F

    eng, port, _ = served
    docs = [
        {"name": f"{'keep' if i % 2 else 'drop'}-{i}", "external_id": f"f{i}",
         "document": json.dumps({"body": f"spark shuffle filter note {i}"})}
        for i in range(6)
    ]
    _call(port, "/api/upload", {"owner": "flt", "category": "docs", "documents": docs})
    eng.build_text_index("flt", "docs")

    resp, data = _call(port, "/api/search_hybrid", {
        "owner": "flt", "category": "docs", "text": "spark shuffle",
        "count": 3, "centroids": -1, "filter": {"name_prefix": "keep"},
    })
    assert resp.status == 200
    got = json.loads(data)["documents"]
    assert len(got) == 3
    assert all(d["name"].startswith("keep") for d in got)
    direct = eng.search_hybrid(
        "flt", "docs", "spark shuffle", count=3, nprobe=-1,
        where=F.col("name").startswith("keep"),
    ).collect()
    assert [d["document_id"] for d in got] == [r["document_id"] for r in direct]

    # external_id equality narrows to one document
    resp, data = _call(port, "/api/search_hybrid", {
        "owner": "flt", "category": "docs", "text": "spark shuffle",
        "count": 5, "centroids": -1, "filter": {"external_id": "f3"},
    })
    got = json.loads(data)["documents"]
    assert [d["external_id"] for d in got] == ["f3"]

    # unknown filter key errors instead of silently ignoring — and as a
    # CLIENT error (400), not the engine's blanket 500
    resp, data = _call(port, "/api/search_hybrid", {
        "owner": "flt", "category": "docs", "text": "spark",
        "filter": {"color": "red"},
    })
    assert resp.status == 400 and b"unknown filter keys" in data

    # malformed document_ids and non-integer fields are 400s too
    resp, data = _call(port, "/api/search_hybrid", {
        "owner": "flt", "category": "docs", "text": "spark",
        "filter": {"document_ids": ["not-a-number"]},
    })
    assert resp.status == 400 and b"document_ids" in data
    resp, data = _call(port, "/api/search", {
        "owner": "flt", "category": "docs", "text": "spark",
        "count": "three",
    })
    assert resp.status == 400 and b"count" in data


def test_delete_route_bulk_extension(served):
    """/api/delete/document with "document_ids" batch-deletes and
    reports the count; the single-id reference shape still returns the
    empty body."""
    eng, port, _ = served
    docs = [
        {"name": f"B{i}", "external_id": f"b{i}",
         "document": json.dumps({"b": f"bulk route doc {i}"})}
        for i in range(4)
    ]
    _, data = _call(port, "/api/upload",
                    {"owner": "bulk", "category": "docs", "documents": docs})
    ids = json.loads(data)["document_ids"]

    resp, data = _call(
        port, "/api/delete/document",
        {"owner": "bulk", "category": "docs", "document_ids": ids[:2]},
        method="DELETE",
    )
    assert resp.status == 200 and json.loads(data) == {"deleted": 2}

    resp, data = _call(
        port, "/api/delete/document",
        {"owner": "bulk", "category": "docs", "document_id": ids[2]},
        method="DELETE",
    )
    assert resp.status == 200 and json.loads(data) == {}
    from pyspark.sql import functions as F

    left = eng.t["documents"].read().filter(
        F.col("category_id") == eng._category_id("bulk", "docs")
    ).count()
    assert left == 1


def test_search_batch_route(served):
    """/api/search_batch answers N texts in one request, each entry
    /api/search-shaped and equal to the single-query route."""
    eng, port, _ = served
    docs = [
        {"name": f"SB{i}", "external_id": f"sb{i}",
         "document": json.dumps({"b": f"batch route doc {i} "
                                      f"{'left' if i < 3 else 'right'}"})}
        for i in range(6)
    ]
    _call(port, "/api/upload", {"owner": "sb", "category": "docs", "documents": docs})

    texts = ["left doc", "right doc"]
    resp, data = _call(port, "/api/search_batch", {
        "owner": "sb", "category": "docs", "texts": texts,
        "count": 3, "centroids": -1,
    })
    assert resp.status == 200
    results = json.loads(data)["results"]
    assert len(results) == 2
    for t, entry in zip(texts, results):
        _, sdata = _call(port, "/api/search", {
            "owner": "sb", "category": "docs", "text": t,
            "count": 3, "centroids": -1,
        })
        single = json.loads(sdata)["documents"]
        assert [d["document_id"] for d in entry["documents"]] == [
            d["document_id"] for d in single
        ]
        for a, b in zip(entry["documents"], single):
            assert a["document_similarity"] == pytest.approx(b["document_similarity"])

    # the JSON filter object scopes the non-hybrid batch path exactly
    # like /api/search (silently ignoring a data-scoping filter was the
    # pre-r6 offset bug's class); hybrid batch rejects it loudly
    resp, data = _call(port, "/api/search_batch", {
        "owner": "sb", "category": "docs", "texts": texts,
        "count": 5, "centroids": -1, "filter": {"external_id": "sb1"},
    })
    assert resp.status == 200
    for entry in json.loads(data)["results"]:
        assert {d["external_id"] for d in entry["documents"]} <= {"sb1"}
    resp, data = _call(port, "/api/search_batch", {
        "owner": "sb", "category": "docs", "texts": texts, "hybrid": True,
        "filter": {"external_id": "sb1"},
    })
    assert resp.status == 400 and b"filter" in data

    # malformed delete ids are the client's error -> 400, not 500
    resp, data = _call(port, "/api/delete/document", {
        "owner": "sb", "category": "docs", "document_ids": ["junk"],
    }, method="DELETE")
    assert resp.status == 400 and b"document_ids" in data

    # "offset" means the same thing on the non-hybrid batch path as on
    # /api/search (it was silently ignored pre-r6)
    resp, data = _call(port, "/api/search_batch", {
        "owner": "sb", "category": "docs", "texts": texts,
        "count": 2, "offset": 1, "centroids": -1,
    })
    assert resp.status == 200
    for t, entry in zip(texts, json.loads(data)["results"]):
        _, sdata = _call(port, "/api/search", {
            "owner": "sb", "category": "docs", "text": t,
            "count": 2, "offset": 1, "centroids": -1,
        })
        single = json.loads(sdata)["documents"]
        assert [d["document_id"] for d in entry["documents"]] == [
            d["document_id"] for d in single
        ]


def test_wasm_isolation_headers_on_every_response(served):
    """The reference's headers middleware (main.go:119-126) sets the
    cross-origin-isolation pair on every response; ours must too."""
    _, port, _ = served
    for path, method in (("/api/categories", "POST"), ("/api/nope", "POST")):
        resp, _ = _call(port, path, {"owner": "acme"}, method=method)
        assert resp.getheader("Cross-Origin-Opener-Policy") == "same-origin"
        assert resp.getheader("Cross-Origin-Embedder-Policy") == "require-corp"


def test_search_batch_hybrid_mode(served):
    """search_batch with "hybrid": true fuses both legs per text and
    matches the single /api/search_hybrid route."""
    eng, port, _ = served
    docs = [
        {"name": f"HB{i}", "external_id": f"hb{i}",
         "document": json.dumps({"b": f"hybrid batch route doc {i} "
                                      f"{'spark' if i % 2 else 'plans'}"})}
        for i in range(4)
    ]
    _call(port, "/api/upload", {"owner": "hb", "category": "docs", "documents": docs})
    eng.build_text_index("hb", "docs")

    texts = ["spark doc", "plans doc"]
    resp, data = _call(port, "/api/search_batch", {
        "owner": "hb", "category": "docs", "texts": texts,
        "count": 3, "centroids": -1, "hybrid": True,
    })
    assert resp.status == 200
    results = json.loads(data)["results"]
    assert len(results) == 2
    for t, entry in zip(texts, results):
        _, sdata = _call(port, "/api/search_hybrid", {
            "owner": "hb", "category": "docs", "text": t,
            "count": 3, "centroids": -1,
        })
        single = json.loads(sdata)["documents"]
        assert [d["document_id"] for d in entry["documents"]] == [
            d["document_id"] for d in single
        ]

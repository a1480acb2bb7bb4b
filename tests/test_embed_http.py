"""S12 batched-HTTP embedding source against a local stub server.

The stub reproduces the reference endpoint's contract
(ai/ollama/embed.go:19-88): POST /api/embed with {"model", "input",
"options": {"num_ctx"}} -> {"embeddings": [[floats...]]}. Embeddings are
deterministic functions of the text so assertions are exact.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_vectorsearch_spark.sources.embed_http import (
    embed_chunks,
    http_embed,
    quantize_f32_np,
)

DIM = 8


def fake_vec(text: str) -> list[float]:
    # deterministic, includes negatives so the 0-anchored range matters
    return [((len(text) * (i + 3) + ord(text[0]) if text else 7) % 17) - 8.0 for i in range(DIM)]


class _Handler(BaseHTTPRequestHandler):
    # both provider shapes share request/response JSON (aicomms.EmbedRequest
    # is reused verbatim by the openai client, ai/openai/embed.go:28) and
    # differ only in path
    PATHS = ("/api/embed", "/v1/embeddings")

    def do_POST(self):
        self.server.hits = getattr(self.server, "hits", 0) + 1
        n = int(self.headers["Content-Length"])
        req = json.loads(self.rfile.read(n))
        if not self.path.endswith(self.PATHS):
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        self.server.requests.append(
            {
                "path": self.path,
                "auth": self.headers.get("Authorization"),
                "model": req.get("model"),
                "num_ctx": (req.get("options") or {}).get("num_ctx"),
                "n_texts": len(req["input"]),
            }
        )
        body = json.dumps(
            {"embeddings": [fake_vec(t) for t in req["input"]], "done": True}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def stub_server():
    servers = []

    def start():
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        srv.requests = []
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return srv, f"http://127.0.0.1:{srv.server_port}"

    yield start
    for srv in servers:
        srv.shutdown()
        srv.server_close()


def _texts_df(spark, n=10, partitions=2):
    return spark.createDataFrame(
        [(i, f"text number {i} body") for i in range(n)], "id long, chunk string"
    ).repartition(partitions)


def test_http_embed_quantizes_at_decode(spark, stub_server):
    srv, base = stub_server()
    df = _texts_df(spark, n=10)
    out = http_embed(
        df, api_bases=[base], model="m1", batch_size=4, num_ctx=512
    ).collect()
    assert len(out) == 10
    for row in out:
        codes, lo, hi = quantize_f32_np(
            np.array([fake_vec(row["chunk"])], dtype=np.float64)
        )
        assert row["codes"] == codes[0].astype(int).tolist()
        assert row["lo"] == pytest.approx(float(lo[0]))
        assert row["hi"] == pytest.approx(float(hi[0]))
        assert row["lo"] <= 0.0 <= row["hi"]  # 0-anchored range
        assert all(0 <= c <= 255 for c in row["codes"])


def test_http_embed_batches_and_request_shape(spark, stub_server):
    srv, base = stub_server()
    df = _texts_df(spark, n=10, partitions=1)
    http_embed(
        df, api_bases=[base], model="mx", batch_size=4, num_ctx=256, token="tok"
    ).collect()
    reqs = srv.requests
    # 10 texts / batch_size 4 -> 3 POSTs of 4+4+2
    assert sorted(r["n_texts"] for r in reqs) == [2, 4, 4]
    for r in reqs:
        assert r["path"] == "/api/embed"
        assert r["model"] == "mx"
        assert r["num_ctx"] == 256
        assert r["auth"] == "Bearer tok"  # embed.go:50-52


def test_http_embed_load_balances_bases(spark, stub_server):
    srv_a, base_a = stub_server()
    srv_b, base_b = stub_server()
    df = _texts_df(spark, n=32, partitions=4)
    http_embed(df, api_bases=[base_a, base_b], batch_size=4).collect()
    # ~8 POSTs (exact count depends on the row split across partitions),
    # round-robined across both bases from partition-seeded starts
    total = len(srv_a.requests) + len(srv_b.requests)
    assert 8 <= total <= 12
    assert len(srv_a.requests) >= 2 and len(srv_b.requests) >= 2
    assert sum(r["n_texts"] for r in srv_a.requests + srv_b.requests) == 32


def test_http_embed_preserves_base_path_prefix(spark, stub_server):
    """api_base URLs behind a reverse proxy carry a path prefix
    ('http://host/ollama'); the client must POST to <prefix>/api/embed,
    not the bare /api/embed."""
    srv, base = stub_server()
    df = _texts_df(spark, n=4, partitions=1)
    out = http_embed(df, api_bases=[base + "/ollama"], batch_size=4).collect()
    assert len(out) == 4
    assert [r["path"] for r in srv.requests] == ["/ollama/api/embed"]


def test_http_embed_error_propagates(spark, stub_server):
    srv, base = stub_server()
    df = _texts_df(spark, n=2, partitions=1)
    with pytest.raises(Exception, match="embed endpoint|404"):
        http_embed(df, api_bases=[base], path="/nope").collect()


def test_embed_chunks_seam_noop_default(spark):
    """No api_bases -> deterministic noop codes with the fixed [-1,1]
    range; same canonical (codes, lo, hi) shape as the HTTP path."""
    df = _texts_df(spark, n=4, partitions=1)
    out = embed_chunks(df, dim=16).collect()
    for row in out:
        assert len(row["codes"]) == 16
        assert (row["lo"], row["hi"]) == (-1.0, 1.0)
    again = {r["id"]: r["codes"] for r in embed_chunks(df, dim=16).collect()}
    assert {r["id"]: r["codes"] for r in out} == again


def test_embed_chunks_seam_http(spark, stub_server):
    srv, base = stub_server()
    df = _texts_df(spark, n=4, partitions=1)
    out = embed_chunks(df, api_bases=[base], batch_size=2).collect()
    assert len(out) == 4 and len(srv.requests) == 2


@pytest.mark.slow
def test_engine_with_http_provider(spark, stub_server, tmp_path):
    """Engine configured with api_bases embeds uploads AND queries over
    HTTP (the reference server's live-provider deployment shape), stores
    only quantized codes, and search returns the uploaded doc."""
    from go_vectorsearch_spark.api import Engine

    srv, base = stub_server()
    eng = Engine(spark, str(tmp_path / "store"), api_bases=[base])
    ids = eng.upload(
        "acme",
        "wiki",
        [{"name": "d1", "external_id": "x", "document": json.dumps({"t": "hello world"})}],
    )
    assert len(ids) == 1
    assert any(r["n_texts"] >= 1 for r in srv.requests)  # upload went over HTTP
    n_before = len(srv.requests)
    res = eng.search("acme", "wiki", "hello", nprobe=-1).collect()
    assert len(srv.requests) > n_before  # query embedded over HTTP too
    assert [r["document_id"] for r in res] == ids
    emb = eng.t["embeddings"].read()
    assert {"codes", "lo", "hi"} <= set(emb.columns) and "vector" not in emb.columns


def test_engine_http_upload_stores_the_spark_path_codes(spark, stub_server, tmp_path):
    """An HTTP-mode upload embeds its chunks on the driver through
    http_embed's per-batch function: the stored codes are the ones the
    mapInPandas form of the same function returns for those chunks."""
    from go_vectorsearch_spark.api import Engine
    from go_vectorsearch_spark.operators.documents import document_chunks

    srv, base = stub_server()
    eng = Engine(spark, str(tmp_path / "store"), api_bases=[base])
    docs = [
        {"name": f"d{i}", "external_id": "", "document": json.dumps({"t": "w " * (400 * i) + f"x{i}"})}
        for i in range(3)
    ]
    ids = eng.upload("acme", "wiki", docs)
    assert srv.requests and all(r["path"] == "/api/embed" for r in srv.requests)
    chunks = [document_chunks(d["name"], d["document"]) for d in docs]
    stride = max(map(len, chunks))
    frame = spark.createDataFrame(
        [(i, ix, c) for i, cs in zip(ids, chunks) for ix, c in enumerate(cs)],
        "doc_id long, chunk_idx int, chunk string",
    )
    want = sorted(
        (1 + (r["doc_id"] - ids[0]) * stride + r["chunk_idx"], r["doc_id"],
         r["codes"], r["lo"], r["hi"])
        for r in http_embed(frame, api_bases=[base]).collect()
    )
    got = sorted(
        tuple(r)
        for r in eng.t["embeddings"].read()
        .select("embedding_id", "document_id", "codes", "lo", "hi").collect()
    )
    assert sum(map(len, chunks)) > len(docs)
    assert got == want


def test_openai_provider_shape(spark, stub_server):
    """kind="openai" POSTs the same payload to /v1/embeddings
    (ai/openai/embed.go:39) with bearer auth."""
    from go_vectorsearch_spark.sources.embed_http import EmbedProvider

    srv, base = stub_server()
    df = _texts_df(spark, n=4, partitions=1)
    out = embed_chunks(
        df,
        providers=[EmbedProvider(api_bases=(base,), kind="openai",
                                 model="text-embedding", token="sk-x")],
        batch_size=4,
    ).collect()
    assert len(out) == 4
    assert [r["path"] for r in srv.requests] == ["/v1/embeddings"]
    assert srv.requests[0]["model"] == "text-embedding"
    assert srv.requests[0]["auth"] == "Bearer sk-x"


def test_provider_fallback_order(spark, stub_server):
    """ai/methods.go:14-22: first CONFIGURED provider wins — an
    unconfigured (no endpoints) ollama slot falls through to openai;
    nothing configured raises."""
    import pytest as _pytest

    from go_vectorsearch_spark.sources.embed_http import (
        EmbedProvider,
        select_embed_provider,
    )

    srv, base = stub_server()
    ollama_empty = EmbedProvider(api_bases=(), kind="ollama")
    openai = EmbedProvider(api_bases=(base,), kind="openai")
    assert select_embed_provider([ollama_empty, openai]) is openai
    df = _texts_df(spark, n=2, partitions=1)
    out = embed_chunks(df, providers=[ollama_empty, openai], batch_size=2).collect()
    assert len(out) == 2
    assert [r["path"] for r in srv.requests] == ["/v1/embeddings"]
    with _pytest.raises(ValueError, match="no embed provider"):
        select_embed_provider([ollama_empty])


def test_balancer_least_connections_and_exclude():
    """The picker is fewest-in-flight first (provider.go:56-87): with one
    endpoint busy, the next acquire goes elsewhere; exclusion re-picks
    among untried endpoints; an idle endpoint is re-probed eventually."""
    from go_vectorsearch_spark.sources.embed_http import _EndpointBalancer

    bal = _EndpointBalancer(["a", "b"], seed=7)
    first, done_first = bal.acquire()
    other, done_other = bal.acquire()  # first still in flight
    assert {first, other} == {"a", "b"}
    done_first()
    done_other()
    # exclusion: a retry that already failed on X must pick the other
    picked, done = bal.acquire(exclude=[first])
    assert picked == other
    done(failed=True)
    # all-excluded degrades to all-allowed instead of deadlocking
    picked, done = bal.acquire(exclude=["a", "b"])
    assert picked in ("a", "b")
    done()


def test_slow_endpoint_sheds_load(spark, stub_server):
    """ai/httpclient/provider.go:56-87's goal, sequential-client form: a
    deliberately slow endpoint must receive measurably FEWER requests
    than round-robin's half — the latency EWMA routes around it while
    the periodic re-probe keeps it from starving forever."""
    import time as _time

    class _SlowHandler(_Handler):
        def do_POST(self):
            _time.sleep(0.12)
            super().do_POST()

    slow_srv = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    slow_srv.requests = []
    threading.Thread(target=slow_srv.serve_forever, daemon=True).start()
    try:
        fast_srv, fast_base = stub_server()
        slow_base = f"http://127.0.0.1:{slow_srv.server_port}"
        df = _texts_df(spark, n=40, partitions=1)
        out = http_embed(
            df, api_bases=[slow_base, fast_base], batch_size=2
        ).collect()
        assert len(out) == 40
        n_slow, n_fast = len(slow_srv.requests), len(fast_srv.requests)
        assert n_slow + n_fast == 20
        # round-robin would send exactly 10; the balancer should send the
        # slow endpoint only probe traffic. The bound is strictly-under-
        # half rather than a tight count: on a loaded CI box the fast
        # endpoint's real latency can approach the 0.12 s artificial gap,
        # shrinking the EWMA routing margin — the invariant that must
        # hold is "measurably better than round-robin", not a fixed split
        assert n_slow < 10, f"slow endpoint got {n_slow}/20 requests"
        assert n_fast > 10
    finally:
        slow_srv.shutdown()
        slow_srv.server_close()


def test_retry_rotates_to_healthy_endpoint(spark, stub_server):
    """A dead endpoint in api_bases must not fail the task: the retry
    budget rotates each attempt to the next endpoint with backoff, so
    every batch lands on the healthy server."""
    srv, base = stub_server()
    dead = "http://127.0.0.1:1"  # nothing listens on port 1
    df = _texts_df(spark, n=8, partitions=1)
    out = http_embed(
        df, api_bases=[dead, base], batch_size=4, backoff_s=0.01
    ).collect()
    assert len(out) == 8
    assert sum(r["n_texts"] for r in srv.requests) == 8


def test_retry_budget_exhausts(spark):
    """All endpoints dead -> the budget raises instead of hanging."""
    df = _texts_df(spark, n=2, partitions=1)
    with pytest.raises(Exception, match="[Cc]onnection|refused|embed"):
        http_embed(
            df,
            api_bases=["http://127.0.0.1:1"],
            batch_size=2,
            max_attempts=2,
            backoff_s=0.01,
        ).collect()


def test_permanent_http_error_fails_fast(spark, stub_server):
    """A 4xx (bad path/token/model: identical on every endpoint) must
    fail on the FIRST attempt — retrying it across the whole budget with
    backoff multiplies a permanent failure by max_attempts."""
    srv, base = stub_server()
    df = _texts_df(spark, n=4, partitions=1)
    with pytest.raises(Exception, match="404"):
        http_embed(
            df,
            api_bases=[base],
            path="/api/no-such-route",
            batch_size=4,
            max_attempts=6,
            backoff_s=0.01,
        ).collect()
    assert getattr(srv, "hits", 0) <= 2  # 1 attempt (+ possible task retry)


def test_max_attempts_floor(spark):
    """max_attempts=0 still makes one attempt and raises the real error
    (not a raise-None TypeError)."""
    df = _texts_df(spark, n=2, partitions=1)
    with pytest.raises(Exception, match="[Cc]onnection|refused|embed"):
        http_embed(
            df,
            api_bases=["http://127.0.0.1:1"],
            batch_size=2,
            max_attempts=0,
            backoff_s=0.01,
        ).collect()


def test_engine_openai_provider_roundtrip(spark, stub_server, tmp_path):
    """Engine wired with the ordered provider list uses the first
    configured provider for uploads AND query embedding."""
    from go_vectorsearch_spark.api import Engine
    from go_vectorsearch_spark.sources.embed_http import EmbedProvider

    srv, base = stub_server()
    eng = Engine(
        spark,
        str(tmp_path / "store2"),
        providers=[
            EmbedProvider(api_bases=(), kind="ollama"),
            EmbedProvider(api_bases=(base,), kind="openai", model="emb3"),
        ],
    )
    ids = eng.upload(
        "o", "c",
        [{"name": "d", "external_id": "e", "document": json.dumps("hello")}],
    )
    res = eng.search("o", "c", "hello", nprobe=-1).collect()
    assert [r["document_id"] for r in res] == ids
    assert all(r["path"] == "/v1/embeddings" for r in srv.requests)
    assert all(r["model"] == "emb3" for r in srv.requests)


class _ZstdHandler(_Handler):
    """Accepts zstd request bodies (the service-side middleware shape)
    and answers with a zstd-compressed response — both directions of
    ai/httpclient/compression.go."""

    def do_POST(self):
        from go_vectorsearch_spark.sources.embed_http import (
            _zstd_compress,
            _zstd_decompress,
        )

        n = int(self.headers["Content-Length"])
        raw = self.rfile.read(n)
        enc = (self.headers.get("Content-Encoding") or "").strip().lower()
        self.server.encodings.append(enc)
        req = json.loads(_zstd_decompress(raw) if enc == "zstd" else raw)
        body = json.dumps(
            {"embeddings": [fake_vec(t) for t in req["input"]]}
        ).encode()
        body = _zstd_compress(body)
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Encoding", "zstd")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class _No415Handler(_Handler):
    """Rejects zstd bodies with 415 Unsupported Media Type."""

    def do_POST(self):
        enc = (self.headers.get("Content-Encoding") or "").strip().lower()
        self.server.encodings.append(enc)
        if enc == "zstd":
            n = int(self.headers["Content-Length"])
            self.rfile.read(n)  # drain
            self.send_response(415)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        super().do_POST()


def test_zstd_request_bodies_roundtrip(spark):
    """request_compression=True posts zstd bodies (Content-Encoding:
    zstd, ai/ollama/embed.go:33-47) and transparently decodes a zstd
    response — results identical to plain JSON."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ZstdHandler)
    srv.requests, srv.encodings = [], []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        df = _texts_df(spark, n=8, partitions=1)
        out = http_embed(
            df, api_bases=[base], batch_size=4, request_compression=True
        ).collect()
        assert len(out) == 8
        assert srv.encodings and all(e == "zstd" for e in srv.encodings)
        # values match the plain-JSON path exactly
        want = {r["id"]: tuple(r["codes"]) for r in http_embed(
            df, api_bases=[base], batch_size=4, request_compression=False
        ).collect()}
        got = {r["id"]: tuple(r["codes"]) for r in out}
        assert got == want
    finally:
        srv.shutdown()
        srv.server_close()


def test_zstd_fallback_on_415(spark):
    """An endpoint that rejects zstd with 415 gets ONE plain resend and
    is remembered: later batches post plain JSON directly."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _No415Handler)
    srv.requests, srv.encodings = [], []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        df = _texts_df(spark, n=8, partitions=1)
        out = http_embed(
            df, api_bases=[base], batch_size=4, request_compression=True
        ).collect()
        assert len(out) == 8
        # 2 batches: [zstd -> 415, plain, plain] — exactly one zstd probe
        assert srv.encodings[0] == "zstd"
        assert srv.encodings.count("zstd") == 1
        assert all(e == "" for e in srv.encodings[1:])
        assert sum(r["n_texts"] for r in srv.requests) == 8
    finally:
        srv.shutdown()
        srv.server_close()


def test_embed_texts_once_zstd_and_fallback(spark):
    """The one-shot query-embed path shares the compression behavior."""
    from go_vectorsearch_spark.sources.embed_http import embed_texts_once

    for handler, want_first in ((_ZstdHandler, "zstd"), (_No415Handler, "zstd")):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        srv.requests, srv.encodings = [], []
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            base = f"http://127.0.0.1:{srv.server_port}"
            codes, lo, hi = embed_texts_once(
                base, ["hello"], model="m", request_compression=True
            )
            assert codes.shape == (1, DIM)
            assert srv.encodings[0] == want_first
        finally:
            srv.shutdown()
            srv.server_close()

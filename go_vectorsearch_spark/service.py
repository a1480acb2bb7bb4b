"""S10/M1: the HTTP service surface over :class:`~go_vectorsearch_spark.api.Engine`.

The reference ships as an HTTP server; this module is its route-for-route
counterpart (main.go:128-178):

  POST /api/upload           → Engine.upload          (server/upload.go)
  POST|GET /api/search       → Engine.search          (server/search.go)
  POST /api/chat             → chat token stream      (server/chat.go:85-105)
  POST|GET /api/categories   → Engine.fetch_category_names (server/fetch.go)
  POST|DELETE /api/delete/owner|category|document     (server/delete.go)

Extension routes beyond the reference (additive; reference routes keep
their exact shape):

  POST|GET /api/search_hybrid → Engine.search_hybrid (BM25+vector RRF;
                                response shape identical to /api/search)
  POST /api/admin/refresh     → refresh_index / refresh_all sweep
                                (server/centroids.go:17-83 on demand;
                                "incremental": true runs the
                                churn-proportional maintenance form)

Static files: ``make_server(static_dir=...)`` mounts a UI build at "/"
behind the same headers + compression middleware — the reference's
embedded frontend server (main.go:178); without it non-API GETs 404.

Request/response JSON field names match the reference structs exactly
(UploadRequest/SearchRequest/ChatRequest/... in server/*.go), so a client
of the reference talks to this service unchanged.

Middleware parity (main.go:128-173):
  * zstd request decompression on every API route when the client sends
    ``Content-Encoding: zstd``;
  * zstd response compression on upload/search when the client sends
    ``Accept-Encoding: zstd`` (chat streams uncompressed, like the
    reference, whose compression middleware wraps upload/search only).
  Codec: pyarrow's bundled zstd (streaming, no content-size needed) —
  the same frames any zstd client produces/consumes.

Chat streaming (M1): the handler assembles the message list via
``Engine.chat_messages`` (history alternation + quoted document context,
server/chat.go:109-181), POSTs it to the configured LLM endpoint with
``stream: true``, NDJSON-decodes the reply line-by-line, and forwards
each ``message.content`` fragment to the HTTP client as it arrives —
exactly ai/ollama/chat.go:92-155 feeding server/chat.go:85-105. With no
LLM endpoint configured the route answers 501, mirroring the reference's
"no provider configured" error (ai/methods.go:46-54).

Scale note: one Service process fronts one SparkSession (the reference
is likewise one process over one DB pool); horizontal scale is N
service replicas over the same table root. READS need no coordination —
the versioned stores give each request snapshot isolation. Each store
commit serializes through the stores' cross-process flock
(versioned.lock): two replicas' concurrent uploads commit one after
the other instead of the second's manifest silently dropping the
first's rows (the in-process Service lock cannot see another process).
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Iterator
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from go_vectorsearch_spark import versioned
from go_vectorsearch_spark.api import Engine, NearDupIndexMissing

CHAT_PATH = "/api/chat"  # LLM-provider side path (ai/ollama/chat.go:114)
OPENAI_CHAT_PATH = "/v1/chat/completions"  # ai/openai/chat.go:122
GENERATE_PATH = "/api/generate"  # ai/ollama/generate.go:36
OPENAI_GENERATE_PATH = "/v1/completions"  # ai/openai/generate.go:37


class BadRequest(ValueError):
    """Malformed client input (bad filter key, non-integer field):
    mapped to HTTP 400 by the dispatch, where engine-internal failures
    keep the blanket 500."""


def _zstd_decompress(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.input_stream(pa.BufferReader(data), compression="zstd").read()


def _zstd_compress(data: bytes) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    return bytes(sink.getvalue())


def _llm_request(base: str, path: str, payload: dict, token: str, timeout: float):
    """POST one JSON request to an LLM-provider path and return
    (connection, response) — the connection/header/auth assembly every
    provider call in this module shares. Caller owns conn.close();
    non-200 raises with a truncated body for context."""
    from go_vectorsearch_spark.sources.embed_http import _open_connection

    conn, prefix = _open_connection(str(base).rstrip("/"), timeout)
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    try:
        conn.request("POST", prefix + path, json.dumps(payload).encode(), headers)
        resp = conn.getresponse()
    except BaseException:
        conn.close()
        raise
    return conn, resp


def _check_200(resp, path: str) -> None:
    if resp.status != 200:
        raise RuntimeError(f"{path} -> {resp.status}: {resp.read()[:200]!r}")


def _ndjson_objects(resp) -> Iterator[dict]:
    """Parsed objects of an NDJSON byte stream, including a final line
    without a trailing newline — the shared drain loop of the Ollama
    chat and both generate streams."""
    buf = b""
    while True:
        chunk = resp.read1(65536)
        if not chunk:
            break
        buf += chunk
        while b"\n" in buf:
            line, buf = buf.split(b"\n", 1)
            if line.strip():
                yield json.loads(line)
    if buf.strip():
        yield json.loads(buf)


def chat_stream(
    base: str,
    messages: list[dict[str, str]],
    model: str = "chat",
    token: str = "",
    num_ctx: int = 2048,
    timeout: float = 60.0,
) -> Iterator[str]:
    """POST a streaming chat request and yield content fragments.

    The provider-side decode of ai/ollama/chat.go:92-155: request
    ``{"model", "messages", "stream": true, "options": {"num_ctx"}}``
    to ``<base>/api/chat``; the response is NDJSON lines
    ``{"message": {"role", "content"}, "done": bool}`` — yield each
    line's ``message.content`` until ``done``.
    """
    payload = {
        "model": model,
        "messages": list(messages),
        "stream": True,
        "options": {"num_ctx": num_ctx},
    }
    conn, resp = _llm_request(base, CHAT_PATH, payload, token, timeout)
    try:
        _check_200(resp, CHAT_PATH)
        for res in _ndjson_objects(resp):
            yield res.get("message", {}).get("content", "")
            if res.get("done"):
                return
    finally:
        conn.close()


def chat_stream_openai(
    base: str,
    messages: list[dict[str, str]],
    model: str = "chat",
    token: str = "",
    num_ctx: int = 2048,
    timeout: float = 60.0,
) -> Iterator[str]:
    """POST a streaming chat request to an OpenAI-shaped endpoint and
    yield content fragments — the SSE twin of :func:`chat_stream`.

    The provider-side decode of ai/openai/chat.go:101-174: request the
    same ``{"model", "messages", "stream": true, "options"}`` body to
    ``<base>/v1/chat/completions``; the response is SSE ``data: {...}``
    lines. The reference decodes by slicing each line from its first
    ``{`` (which also skips the ``data: [DONE]`` sentinel and blank
    keep-alives — no brace, no parse), sorting ``choices`` by index,
    yielding each ``delta.content``, and stopping at the first
    non-empty ``finish_reason``; reproduced exactly."""
    payload = {
        "model": model,
        "messages": list(messages),
        "stream": True,
        "options": {"num_ctx": num_ctx},
    }
    conn, resp = _llm_request(base, OPENAI_CHAT_PATH, payload, token, timeout)
    try:
        _check_200(resp, OPENAI_CHAT_PATH)
        buf = b""
        while True:
            chunk = resp.read1(65536)
            if not chunk:
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                start = line.find(b"{")
                if start == -1:
                    continue  # blank keep-alive / "data: [DONE]"
                res = json.loads(line[start:])
                for choice in sorted(
                    res.get("choices", []), key=lambda c: c.get("index", 0)
                ):
                    yield choice.get("delta", {}).get("content", "") or ""
                    if choice.get("finish_reason"):
                        return
    finally:
        conn.close()


_CHAT_STREAMS = {"ollama": chat_stream, "openai": chat_stream_openai}


def generate(
    base: str,
    prompt: str,
    model: str = "chat",
    token: str = "",
    num_ctx: int = 2048,
    timeout: float = 60.0,
    kind: str = "ollama",
    **extra,
) -> dict:
    """One-shot text generation against an LLM provider — the
    ``Generate`` half of the reference's AI interface
    (ai/interface.go:16-17; no HTTP route uses it in the reference
    either, chat covers serving — this completes the provider surface).

    POSTs ``{"model", "prompt", "stream": false, "options":
    {"num_ctx"}}`` (plus any ``extra`` GenerateRequest fields: suffix,
    system, template, format, raw — aicomms/generate.go:5-19) to
    ``/api/generate`` (``kind="ollama"``, ollama/generate.go:19-84) or
    ``/v1/completions`` (``kind="openai"``, openai/generate.go:19-83)
    and returns the decoded JSON object. The reference unmarshals BOTH
    providers' bodies into the same ollama-field GenerateResponse
    struct ("response", "done", "context", timing counters) — the
    OpenAI path included — so the decode here is provider-independent
    and only the route differs, faithfully."""
    # "stream" after the spread: the function owns the streaming mode
    # (the reference likewise force-sets request.Stream) — a caller-
    # passed stream=True in extra would otherwise flip the wire shape
    # and break the one-object decode below
    payload = {
        "model": model,
        "prompt": prompt,
        "options": {"num_ctx": num_ctx},
        **extra,
        "stream": False,
    }
    path = OPENAI_GENERATE_PATH if kind == "openai" else GENERATE_PATH
    conn, resp = _llm_request(base, path, payload, token, timeout)
    try:
        _check_200(resp, path)
        return json.loads(resp.read())
    finally:
        conn.close()


def generate_stream(
    base: str,
    prompt: str,
    model: str = "chat",
    token: str = "",
    num_ctx: int = 2048,
    timeout: float = 60.0,
    kind: str = "ollama",
    **extra,
) -> Iterator[str]:
    """Streaming ``GenerateStream`` (ai/interface.go:19-20): same
    request with ``"stream": true``; the response is NDJSON lines
    ``{"response": str, "done": bool}`` — each line's ``response``
    fragment is yielded until ``done``. The reference decodes the
    stream with this SAME line shape for BOTH providers
    (ollama/generate.go:85-160 and openai/generate.go:84-160 run an
    identical loop — generate, unlike chat, has no SSE branch), so only
    the route differs here too."""
    payload = {
        "model": model,
        "prompt": prompt,
        "options": {"num_ctx": num_ctx},
        **extra,
        "stream": True,  # after the spread — the function owns the mode
    }
    path = OPENAI_GENERATE_PATH if kind == "openai" else GENERATE_PATH
    conn, resp = _llm_request(base, path, payload, token, timeout)
    try:
        _check_200(resp, path)
        for res in _ndjson_objects(resp):
            yield res.get("response", "") or ""
            if res.get("done"):
                return
    finally:
        conn.close()


def _documents_json(rows) -> list[dict]:
    """Search result rows as the reference's DocumentSearch list
    (server/search.go:26-43), payload deserialized."""
    return [
        {
            "name": r["name"],
            "external_id": r["external_id"],
            "document": json.loads(r["payload_json"]),
            "document_id": r["document_id"],
            "document_similarity": r["score"],
        }
        for r in rows
    ]


class Service:
    """The engine + its LLM provider config, shared by all requests."""

    def __init__(
        self,
        engine: Engine,
        llm_base: str | None = None,
        llm_model: str = "chat",
        llm_token: str = "",
        llm_kind: str = "ollama",
        llm_providers: list[tuple[str, str]] | None = None,
        static_dir: str | None = None,
    ):
        """``static_dir`` serves files under it on every non-API GET —
        the reference's embedded UI file server (main.go:178
        ``http.FileServerFS(static.Files)``); None (the default)
        answers 404 like before, keeping the pure-API deployment shape.

        ``llm_base``/``llm_kind`` configure a single chat provider
        ("ollama" NDJSON or "openai" SSE — the two wire shapes behind
        the reference's provider abstraction, ai/ollama/chat.go:92-155
        vs ai/openai/chat.go:101-174). ``llm_providers`` is the
        ordered-fallback form mirroring the embed source
        (ai/methods.go:24-32): a list of (kind, base) pairs tried in
        order, the FIRST with a non-empty base winning — so a
        deployment can declare ollama-then-openai and get whichever is
        configured, exactly like ``select_embed_provider``."""
        self.engine = engine
        if llm_providers is None:
            llm_providers = [(llm_kind, llm_base or "")]
        for kind, _base in llm_providers:
            if kind not in _CHAT_STREAMS:
                raise ValueError(f"unknown chat provider kind {kind!r}")
        self.llm_providers = llm_providers
        self.llm_model = llm_model
        self.llm_token = llm_token
        self.static_dir = static_dir
        # MUTATIONS serialize within this process: a mutating route is
        # several store commits (an upload allocates ids from the
        # current snapshot, then appends documents, then embeddings).
        # Each commit is serialized on its own by the store's writer
        # lock (versioned.lock); this lock keeps the whole sequence of
        # one request from interleaving with another's. READS need no
        # lock — a request resolves each store's pointer once and scans
        # immutable files, so it sees complete snapshots regardless of
        # concurrent writers (and SparkSession actions are thread-safe).
        # Mirrors the reference: SQL writes serialize in the DB, reads
        # run concurrently.
        self.lock = threading.Lock()

    # -- route bodies (pure JSON -> JSON, no HTTP) -------------------------
    def upload(self, req: dict) -> dict:
        docs = [
            {
                "name": d.get("name", ""),
                "external_id": d.get("external_id", ""),
                # DocumentUpload.Document is `any` (upload.go:33); the
                # engine stores its JSON serialization
                "document": json.dumps(d.get("document")),
            }
            for d in req.get("documents", [])
        ]
        # extension: "neardup": "skip" drops near-duplicates against the
        # category's persisted band index before embedding (positional
        # ids resolve skipped slots to the duplicated document); an
        # optional "neardup_threshold" matches /api/admin/neardup's
        # "threshold", so a client can check and skip-upload at the SAME
        # bar instead of being pinned to the engine default
        neardup = req.get("neardup")
        if neardup not in (None, "skip"):
            raise BadRequest("'neardup' must be \"skip\" when present")
        thr = req.get("neardup_threshold", 0.5)
        if isinstance(thr, bool) or not isinstance(thr, (int, float)):
            raise BadRequest("'neardup_threshold' must be a number")
        try:
            ids = self.engine.upload(
                req.get("owner", ""),
                req.get("category", ""),
                docs,
                neardup=neardup,
                neardup_threshold=float(thr),
            )
        except NearDupIndexMissing as e:
            # the ONLY engine ValueError that is a client error here;
            # anything else (embed failure, malformed stored JSON) must
            # surface as the handler's 500, not masquerade as a 400
            raise BadRequest(str(e))
        return {"document_ids": ids}

    def admin_neardup(self, req: dict) -> dict:
        """Near-dup index admin: {"build": true} (re)builds the
        category's band index; a "texts" list checks candidate texts
        against it WITHOUT uploading (Engine.neardup_check) and returns
        per-input matches."""
        owner, category = req.get("owner", ""), req.get("category", "")
        out: dict = {}
        if req.get("build"):
            try:
                out["indexed"] = self.engine.build_neardup_index(owner, category)
            except ValueError as e:  # unknown owner/category = client error
                raise BadRequest(str(e))
        texts = req.get("texts")
        if texts is not None:
            if not isinstance(texts, list) or not all(
                isinstance(t, str) for t in texts
            ):
                raise BadRequest("'texts' must be a list of strings")
            thr = req.get("threshold", 0.5)
            if isinstance(thr, bool) or not isinstance(thr, (int, float)):
                raise BadRequest("'threshold' must be a number")
            thr = float(thr)
            # normalize like the upload path (flatten of the decoded
            # payload): the stored side is flatten()ed text, so a client
            # pre-checking the exact document it would upload gets the
            # SAME Jaccard as upload(neardup="skip") computes
            from go_vectorsearch_spark.operators.documents import flatten

            texts = [flatten(t) for t in texts]
            try:
                rows = self.engine.neardup_check(
                    owner, category, texts, threshold=thr
                ).collect()
            except ValueError as e:  # no index / unknown scope
                raise BadRequest(str(e))
            out["matches"] = [
                {
                    "index": r["q_ix"],
                    "document_id": r["document_id"],
                    "jaccard": r["jaccard"],
                }
                for r in rows
            ]
        return out

    @staticmethod
    def _parse_filter(flt: dict):
        """JSON filter object -> Column predicate (the wire subset of
        the engine's where=): name_prefix / external_id / document_ids,
        AND-combined; unknown keys error instead of silently ignoring.
        Malformed input raises :class:`BadRequest` → HTTP 400 (client
        error), never the handler's blanket 500."""
        if not flt:
            return None
        from pyspark.sql import functions as F

        if not isinstance(flt, dict):
            raise BadRequest("filter must be an object")
        unknown = set(flt) - {"name_prefix", "external_id", "document_ids"}
        if unknown:
            raise BadRequest(f"unknown filter keys: {sorted(unknown)}")
        preds = []
        if "name_prefix" in flt:
            preds.append(F.col("name").startswith(str(flt["name_prefix"])))
        if "external_id" in flt:
            preds.append(F.col("external_id") == str(flt["external_id"]))
        if "document_ids" in flt:
            try:
                ids = [int(x) for x in flt["document_ids"]]
            except (TypeError, ValueError):
                raise BadRequest("document_ids must be a list of integers")
            preds.append(F.col("document_id").isin(ids))
        where = None
        for p in preds:
            where = p if where is None else (where & p)
        return where

    @staticmethod
    def _int_field(req: dict, key: str) -> int:
        """Coerce an optional integer request field; missing ≡ 0 (Go
        zero-value JSON, server/search.go:116). A non-numeric value is
        the CLIENT's error → BadRequest → 400."""
        try:
            return int(req.get(key) or 0)
        except (TypeError, ValueError):
            raise BadRequest(f"{key!r} must be an integer")

    @staticmethod
    def _int_list(req: dict, key: str) -> list[int]:
        """Coerce an optional integer-list request field; malformed
        values are the CLIENT's error → BadRequest → 400, never the
        blanket 500."""
        try:
            return [int(x) for x in req.get(key) or []]
        except (TypeError, ValueError):
            raise BadRequest(f"{key!r} must be a list of integers")

    def search(self, req: dict) -> dict:
        kwargs = dict(
            # missing count ≡ 0 in the reference (Go zero-value JSON),
            # and the engine clamp maps 0 → 1 (server/search.go:116)
            count=self._int_field(req, "count"),
            offset=self._int_field(req, "offset"),
            nprobe=self._int_field(req, "centroids"),
            # extension: same JSON filter object as /api/search_hybrid
            where=self._parse_filter(req.get("filter") or {}),
        )
        args = (req.get("owner", ""), req.get("category", ""), req.get("text", ""))
        # extension: "mmr" (a number in [0, 1]) switches the page to the
        # MMR-diversified ranking (Engine.search_diverse); malformed
        # values are the CLIENT's error → BadRequest → 400
        if req.get("mmr") is not None:
            # strict JSON-number check: float() would silently accept
            # booleans (float(True) == 1.0) and numeric strings
            lam = req["mmr"]
            if (
                isinstance(lam, bool)
                or not isinstance(lam, (int, float))
                or not 0.0 <= float(lam) <= 1.0
            ):
                raise BadRequest("'mmr' must be a number in [0, 1]")
            lam = float(lam)
            rows = self.engine.search_diverse(
                *args, mmr_lambda=lam, **kwargs
            ).collect()
        else:
            rows = self.engine.search(*args, **kwargs).collect()
        return {"documents": _documents_json(rows)}

    def categories(self, req: dict) -> dict:
        return {
            "category_names": self.engine.fetch_category_names(req.get("owner", ""))
        }

    def delete_owner(self, req: dict) -> dict:
        self.engine.delete_owner(req.get("owner", ""))
        return {}

    def delete_category(self, req: dict) -> dict:
        self.engine.delete_category(req.get("owner", ""), req.get("category", ""))
        return {}

    def delete_document(self, req: dict) -> dict:
        # deleteDocument carries owner+category (server/delete.go:165-175)
        # so the engine can verify tenant ownership before deleting.
        # Extension: "document_ids" (a list) batch-deletes in one
        # partition rewrite per touched partition (Engine.delete_documents)
        # and reports the count; the reference's single-id shape returns
        # the reference's empty body.
        if "document_ids" in req:
            n = self.engine.delete_documents(
                req.get("owner", ""),
                req.get("category", ""),
                self._int_list(req, "document_ids"),
            )
            return {"deleted": n}
        self.engine.delete_document(
            req.get("owner", ""),
            req.get("category", ""),
            self._int_field(req, "document_id"),
        )
        return {}

    # -- extension routes (not in the reference; see module docstring) -----
    def search_hybrid(self, req: dict) -> dict:
        """Vector+BM25 RRF fusion (Engine.search_hybrid). Response shape
        matches /api/search so existing clients can switch by path; the
        score field carries the fused RRF score.

        Optional ``"filter"`` object — a JSON-safe subset of the
        engine's ``where=`` predicate: ``{"name_prefix": str,
        "external_id": str, "document_ids": [int, ...]}``, AND-combined
        — pre-filters both retrieval legs (the wire form of
        search_hybrid(where=); arbitrary Column predicates stay a
        library-level capability). /api/search accepts the same object."""
        where = self._parse_filter(req.get("filter") or {})
        rows = self.engine.search_hybrid(
            req.get("owner", ""),
            req.get("category", ""),
            req.get("text", ""),
            count=self._int_field(req, "count"),
            offset=self._int_field(req, "offset"),
            nprobe=self._int_field(req, "centroids"),
            where=where,
        ).collect()
        return {"documents": _documents_json(rows)}

    def search_batch(self, req: dict) -> dict:
        """N query texts in one request → one embed round-trip + one
        Spark plan per leg (Engine.search_many / search_many_hybrid
        when ``"hybrid": true``). Response: ``results`` holds one
        /api/search-shaped document list PER input text, in input
        order (empty list for texts with no hits)."""
        texts = [str(t) for t in req.get("texts") or []]
        where = self._parse_filter(req.get("filter") or {})
        if req.get("hybrid"):
            if where is not None:
                # search_many_hybrid has no where= yet — rejecting is
                # the honest contract (silently ignoring a data-scoping
                # filter was the pre-r6 offset bug's class)
                raise BadRequest(
                    "filter is not supported with hybrid search_batch; "
                    "use per-query /api/search_hybrid"
                )
            rows = self.engine.search_many_hybrid(
                req.get("owner", ""),
                req.get("category", ""),
                texts,
                count=self._int_field(req, "count"),
                offset=self._int_field(req, "offset"),
                nprobe=self._int_field(req, "centroids"),
            ).collect()
        else:
            rows = self.engine.search_many(
                req.get("owner", ""),
                req.get("category", ""),
                texts,
                count=self._int_field(req, "count"),
                # "offset" means the same thing on both batch paths
                # (it was silently ignored here pre-r6)
                offset=self._int_field(req, "offset"),
                nprobe=self._int_field(req, "centroids"),
                # same JSON filter object as /api/search (wire form of
                # search_many(where=))
                where=where,
            ).collect()
        results: list[list] = [[] for _ in texts]
        for r in rows:
            results[r["q_ix"]].append(r)
        return {"results": [{"documents": _documents_json(d)} for d in results]}

    def admin_refresh(self, req: dict) -> dict:
        """Centroid-index refresh: per (owner, category) when given,
        else the full RefreshCentroids-style sweep over every category
        (server/centroids.go:17-83 exposed on demand rather than only
        at boot). Also rebuilds the category text index when one
        exists, keeping hybrid search consistent after re-clustering."""
        owner, category = req.get("owner"), req.get("category")
        if owner and category:
            if req.get("incremental"):
                # churn-proportional maintenance instead of the full
                # rebuild (Engine.refresh_index_incremental)
                r = self.engine.refresh_index_incremental(owner, category)
                pairs = {(owner, category): r["centroids"]}
            else:
                pairs = {
                    (owner, category): self.engine.refresh_index(owner, category)
                }
        else:
            pairs = self.engine.refresh_all(
                incremental=bool(req.get("incremental"))
            )
        # iterate the (owner, category) TUPLES — names are arbitrary
        # strings (a '/' in an owner name must not split a composed key)
        for o, c in pairs:
            cid = self.engine._category_id(o, c)
            if cid is not None and versioned.exists(
                self.engine._text_index_path(cid)
            ):
                self.engine.build_text_index(o, c)
        return {
            "centroids": [
                {"owner": o, "category": c, "centroids": n}
                for (o, c), n in sorted(pairs.items())
            ]
        }

    def admin_compact(self, req: dict) -> dict:
        """Maintenance sweep: compact the engine tables' fragmented
        partitions, and — per (owner, category) when given — the BM25
        postings store and the near-dup band store of categories that
        have them. The HTTP form of the background maintenance job a
        deployment schedules beside /api/admin/refresh."""
        out: dict = {"tables": self.engine.compact()}
        owner, category = req.get("owner"), req.get("category")
        if owner and category:
            cid = self.engine._category_id(owner, category)
            if cid is None:
                raise BadRequest(f"unknown {owner}/{category}")
            tpath = self.engine._text_index_path(cid)
            if versioned.exists(tpath):
                from go_vectorsearch_spark.operators.fulltext import (
                    compact_postings,
                )

                compact_postings(self.engine.spark, tpath)
                out["text_index"] = True
            if versioned.exists(self.engine._neardup_path(cid)):
                out["neardup_rows"] = self.engine.compact_neardup_index(
                    owner, category
                )
        return out

    def admin_substr(self, req: dict) -> dict:
        """Exact-substring curation admin — the wire form of the span
        machinery: {"report": true} returns per-document duplication
        stats (Engine.substr_dedup_report); {"cut": true} applies
        keeper-protected cuts through the partition-scoped write path
        (Engine.substr_dedup_cut; optional "iterate" re-checks
        cut-created adjacencies to a fixpoint); {"decontaminate":
        [texts...]} reports contaminated spans, or CUTS them when
        combined with "cut" (Engine.decontaminate_cut); line-level
        curation rides the same route with {"boilerplate_report": true}
        (hot corpus lines >= "min_df" distinct docs,
        Engine.boilerplate_report) and {"boilerplate_cut": true}
        (fixpoint strip through the same write path,
        Engine.boilerplate_cut). Optional "L" is the minimum duplicated
        run in tokens (default 8); "min_df" the line-hotness threshold
        (default 10); "re_embed": true swaps cut documents' embedding
        rows for fresh ones derived from the cleaned text (one atomic
        commit)."""
        owner, category = req.get("owner", ""), req.get("category", "")
        L = req.get("L", 8)
        if isinstance(L, bool) or not isinstance(L, int) or L < 2:
            raise BadRequest("'L' must be an integer >= 2")
        iterate = req.get("iterate", 1)
        if isinstance(iterate, bool) or not isinstance(iterate, int) or iterate < 1:
            raise BadRequest("'iterate' must be an integer >= 1")
        min_df = req.get("min_df", 10)
        if isinstance(min_df, bool) or not isinstance(min_df, int) or min_df < 2:
            raise BadRequest("'min_df' must be an integer >= 2")
        re_embed = req.get("re_embed", False)
        if not isinstance(re_embed, bool):
            raise BadRequest("'re_embed' must be a boolean")
        bench = req.get("decontaminate")
        if bench is not None and (
            not isinstance(bench, list)
            or not all(isinstance(t, str) for t in bench)
        ):
            raise BadRequest("'decontaminate' must be a list of strings")
        # resolve the category UP FRONT — unknown owner/category is the
        # only client error the engine signals via ValueError here;
        # engine-internal ValueErrors raised during the cut/re-embed
        # machinery must surface as 500s, not masquerade as 400s (the
        # upload route's NearDupIndexMissing discipline)
        if self.engine._category_id(owner, category) is None:
            raise BadRequest(f"admin_substr: unknown {owner}/{category}")
        out: dict = {}
        if req.get("report"):
            out["report"] = [
                {
                    "document_id": r["document_id"],
                    "n_spans": r["n_spans"],
                    "dup_tokens": r["dup_tokens"],
                    "n_dup_windows": r["n_dup_windows"],
                }
                for r in self.engine.substr_dedup_report(
                    owner, category, L=L
                ).collect()
            ]
        if bench is not None and not req.get("cut"):
            out["contaminated"] = [
                {
                    "document_id": r["document_id"],
                    "s_pos": r["s_pos"],
                    "e_pos": r["e_pos"],
                    "n_windows": r["n_windows"],
                }
                for r in self.engine.decontaminate_report(
                    owner, category, bench, L=L
                ).collect()
            ]
        if req.get("boilerplate_report"):
            out["boilerplate"] = [
                {"line": r["line"], "n_docs": r["n_docs"]}
                for r in self.engine.boilerplate_report(
                    owner, category, min_df=min_df
                ).collect()
            ]
        if req.get("boilerplate_cut"):
            # the wire "iterate" default of 1 is the substring cut's
            # Lee-et-al single pass; the line strip defaults to its own
            # fixpoint bound unless the client set iterate explicitly
            out["boilerplate_cut_documents"] = self.engine.boilerplate_cut(
                owner,
                category,
                min_df=min_df,
                iterate=iterate if "iterate" in req else 3,
                re_embed=re_embed,
            )
        if req.get("cut"):
            if bench is not None:
                out["cut_documents"] = self.engine.decontaminate_cut(
                    owner, category, bench, L=L, re_embed=re_embed
                )
            else:
                out["cut_documents"] = self.engine.substr_dedup_cut(
                    owner, category, L=L, iterate=iterate, re_embed=re_embed
                )
        return out

    def admin_stats(self, req: dict) -> dict:
        """Read-only operational snapshot (Engine.stats): table
        rows/versions + per-category counts and index presence."""
        return self.engine.stats()

    def chat(self, req: dict) -> Iterator[str]:
        """ChatRequest → content-fragment stream (server/chat.go:109-181).

        Message assembly is a snapshot READ (document lookup) — no lock;
        the LLM stream is forwarded fragment-by-fragment, so a slow
        generation never blocks other requests — the reference behaves
        identically (DB fetch, then a pipe off the provider's body).
        """
        # ordered fallback, ai/methods.go:24-32 shape: first provider
        # with an endpoint configured wins; none is the CanChat error
        kind = base = None
        for k, b in self.llm_providers:
            if b:
                kind, base = k, b
                break
        if base is None:
            raise LookupError("no chat provider configured")  # ai/methods.go:46-54
        messages = self.engine.chat_messages(
            req.get("text", ""),
            document_ids=self._int_list(req, "document_ids"),
            history=req.get("history") or [],
            prefix=req.get("prefix", ""),
        )
        return _CHAT_STREAMS[kind](
            base, messages, model=self.llm_model, token=self.llm_token
        )


# route table: path -> (service method, allowed HTTP methods, compress?,
# mutates?) (main.go:148-159; compression middleware wraps upload/search
# only; mutating routes take the engine write lock)
_ROUTES = {
    "/api/upload": ("upload", ("POST",), True, True),
    "/api/search": ("search", ("POST", "GET"), True, False),
    "/api/categories": ("categories", ("POST", "GET"), False, False),
    "/api/delete/owner": ("delete_owner", ("POST", "DELETE"), False, True),
    "/api/delete/category": ("delete_category", ("POST", "DELETE"), False, True),
    "/api/delete/document": ("delete_document", ("POST", "DELETE"), False, True),
    # extension routes beyond the reference's surface (clearly additive:
    # every reference route above keeps its exact shape)
    "/api/search_hybrid": ("search_hybrid", ("POST", "GET"), True, False),
    "/api/search_batch": ("search_batch", ("POST",), True, False),
    "/api/admin/refresh": ("admin_refresh", ("POST",), False, True),
    "/api/admin/stats": ("admin_stats", ("POST", "GET"), False, False),
    "/api/admin/neardup": ("admin_neardup", ("POST",), False, True),
    "/api/admin/compact": ("admin_compact", ("POST",), False, True),
    "/api/admin/substr": ("admin_substr", ("POST",), False, True),
}


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    service: Service  # set by make_server

    # -- plumbing ----------------------------------------------------------
    def send_response(self, code, message=None):
        super().send_response(code, message)
        # headers middleware (main.go:119-126): the reference sets the
        # WASM cross-origin-isolation pair on EVERY response (its demo
        # UI runs a WASM client needing SharedArrayBuffer)
        self.send_header("Cross-Origin-Opener-Policy", "same-origin")
        self.send_header("Cross-Origin-Embedder-Policy", "require-corp")

    # request bodies buffer in RAM (the JSON handlers need the whole
    # object); a client-supplied Content-Length is untrusted input, so
    # cap it — 256 MiB comfortably holds the largest real upload batch
    # while bounding what one connection can pin
    _MAX_BODY = 256 << 20

    def _read_body(self) -> dict:
        """Read and decode the JSON request body. Content-Length is
        validated BEFORE the read: a negative value would make
        rfile.read block until an EOF that never comes under keep-alive
        (one request = one handler thread gone forever), an oversized
        one would buffer unbounded; Transfer-Encoding: chunked is not
        implemented, and silently treating it as an empty body would
        leave the chunked bytes to be parsed as the next request line.
        All three raise ValueError → the dispatch's 400-and-close."""
        if "chunked" in (self.headers.get("Transfer-Encoding") or "").lower():
            raise ValueError("chunked transfer encoding not supported")
        n = int(self.headers.get("Content-Length") or 0)
        if n < 0 or n > self._MAX_BODY:
            raise ValueError(f"invalid Content-Length {n}")
        body = self.rfile.read(n) if n else b"{}"
        # decompression middleware (main.go:128-145)
        if "zstd" in (self.headers.get("Content-Encoding") or ""):
            body = _zstd_decompress(body)
        return json.loads(body or b"{}")

    def _send_json(self, obj: dict, status: int = 200, compress_ok: bool = False):
        body = json.dumps(obj).encode()
        enc = None
        # compression middleware (main.go:147-167): only when the client
        # advertises zstd AND the route is wrapped in it
        if compress_ok and "zstd" in (self.headers.get("Accept-Encoding") or ""):
            body = _zstd_compress(body)
            enc = "zstd"
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        if enc:
            self.send_header("Content-Encoding", enc)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, status: int, msg: str, close: bool = False):
        # close=True: the request stream is in an unknown state (body
        # unparsable/undrainable) — tear the connection down instead of
        # letting keep-alive parse leftover bytes as the next request
        if close:
            self.close_connection = True
        self._send_json({"error": msg}, status=status)

    # never buffer more than this just to discard a body; beyond it the
    # connection is closed instead (client-supplied Content-Length is
    # untrusted input)
    _DRAIN_CAP = 1 << 20

    def _drain_body(self) -> None:
        """Consume an unread request body before an error response:
        under HTTP/1.1 keep-alive, leftover body bytes would be parsed
        as the NEXT request line, desynchronizing the connection.
        Malformed/negative/huge lengths close the connection instead of
        blocking or buffering unbounded garbage."""
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            self.close_connection = True
            return
        if n < 0 or n > self._DRAIN_CAP or "chunked" in (
            self.headers.get("Transfer-Encoding") or ""
        ):
            self.close_connection = True
            return
        while n > 0:
            chunk = self.rfile.read(min(n, 65536))
            if not chunk:
                break
            n -= len(chunk)

    # -- dispatch ----------------------------------------------------------
    def _handle(self):
        from urllib.parse import parse_qsl, urlsplit

        # route on the bare path — GET requests carry their parameters
        # in the query string, which is not part of the route key
        split = urlsplit(self.path)
        route = _ROUTES.get(split.path)
        if split.path == CHAT_PATH:
            return self._handle_chat()
        if route is None:
            if self.command in ("GET", "HEAD") and self.service.static_dir:
                return self._serve_static(split.path)
            self._drain_body()
            return self._error(404, "Not found")
        name, methods, compress, mutates = route
        if self.command not in methods:
            self._drain_body()
            self.send_response(405)
            self.send_header("Allow", methods[0])
            body = b'{"error":"Invalid request method"}'
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        try:
            req = self._read_body()
            # GET parameters ride the query string; body keys win so a
            # client can't be broken by sending both
            for k, v in parse_qsl(split.query):
                req.setdefault(k, v)
        except Exception:
            # body partly consumed or headers unparsable: stream state
            # unknown, so close instead of attempting a drain
            return self._error(400, "Invalid request body", close=True)
        try:
            if mutates:
                with self.service.lock:
                    out = getattr(self.service, name)(req)
            else:
                out = getattr(self.service, name)(req)
        except BadRequest as e:  # malformed client input, not our fault
            return self._error(400, f"Invalid request: {e}")
        except Exception as e:  # request failed inside the engine
            return self._error(500, f"{type(e).__name__}: {e}")
        self._send_json(out, compress_ok=compress)

    def _handle_chat(self):
        """Chunked text/plain fragment stream (server/chat.go:85-105)."""
        if self.command != "POST":
            # same keep-alive hygiene as _handle's 405: consume the unread
            # body so leftover bytes aren't parsed as the next request
            self._drain_body()
            return self._error(405, "Invalid request method")
        try:
            req = self._read_body()
        except Exception:
            # body partly consumed or headers unparsable: stream state
            # unknown, so close instead of attempting a drain
            return self._error(400, "Invalid request body", close=True)
        try:
            stream = self.service.chat(req)  # locks internally for Spark
            first = next(stream, None)  # surface provider errors pre-headers
        except BadRequest as e:  # malformed document_ids etc. → client error
            return self._error(400, f"Invalid request: {e}")
        except LookupError:
            return self._error(501, "no chat provider configured")
        except Exception as e:
            return self._error(500, f"{type(e).__name__}: {e}")
        self.send_response(200)
        self.send_header("Content-Type", "text/plain")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()

        def emit(frag: str) -> None:
            data = frag.encode()
            if data:
                self.wfile.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")
                self.wfile.flush()

        if first is not None:
            emit(first)
        for frag in stream:
            emit(frag)
        self.wfile.write(b"0\r\n\r\n")

    def _serve_static(self, path: str) -> None:
        """Static file serving under ``Service.static_dir`` — the
        reference mounts its embedded UI at "/" behind the same headers
        + compression middleware as the API (main.go:178). "/" and
        directory paths fall back to index.html (SPA convention the
        reference's FileServerFS applies); resolved paths must stay
        inside the root (traversal -> 404)."""
        import mimetypes
        from pathlib import Path

        root = Path(self.service.static_dir).resolve()
        target = (root / path.lstrip("/")).resolve()
        if target != root and root not in target.parents:
            return self._error(404, "Not found")
        if target.is_dir():
            target = target / "index.html"
        if not target.is_file():
            return self._error(404, "Not found")
        ctype = mimetypes.guess_type(str(target))[0] or "application/octet-stream"
        body = target.read_bytes()
        enc = None
        # compression middleware wraps the static route too (main.go:178)
        if "zstd" in (self.headers.get("Accept-Encoding") or ""):
            body = _zstd_compress(body)
            enc = "zstd"
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        if enc:
            self.send_header("Content-Encoding", enc)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(body)

    def do_POST(self):
        self._handle()

    def do_GET(self):
        self._handle()

    def do_DELETE(self):
        self._handle()

    def do_HEAD(self):
        self._handle()

    def log_message(self, *a):  # quiet; the reference logs via zap
        pass


def generate_self_signed_cert(
    out_dir: str, cn: str = "localhost"
) -> tuple[str, str]:
    """Generate a self-signed RSA certificate + key under ``out_dir``
    and return (cert_path, key_path) — the reference's
    generateMissingCertificates analog (config/config_tls.go:124-174:
    a deployment with TLS enabled but no certificate configured mints
    its own, with local DNS/IP SANs). Requires the ``openssl`` CLI;
    raises RuntimeError when unavailable so callers can supply real
    certificate paths instead."""
    import shutil
    import subprocess

    if shutil.which("openssl") is None:
        raise RuntimeError(
            "generate_self_signed_cert needs the openssl CLI; pass "
            "tls_cert/tls_key paths instead"
        )
    os.makedirs(out_dir, exist_ok=True)
    cert, key = f"{out_dir}/cert.pem", f"{out_dir}/key.pem"
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048",
            "-keyout", key, "-out", cert, "-days", "365", "-nodes",
            "-subj", f"/CN={cn}",
            "-addext", f"subjectAltName=DNS:{cn},IP:127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    return cert, key


def make_server(
    engine: Engine,
    host: str = "127.0.0.1",
    port: int = 0,
    llm_base: str | None = None,
    llm_model: str = "chat",
    llm_token: str = "",
    llm_kind: str = "ollama",
    llm_providers: list[tuple[str, str]] | None = None,
    tls: bool = False,
    tls_cert: str | None = None,
    tls_key: str | None = None,
    tls_reload_s: float = 1.0,
    static_dir: str | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``port=0`` picks a free port.
    Start with ``threading.Thread(target=srv.serve_forever)`` or
    :func:`serve`.

    ``tls=True`` (or explicit ``tls_cert``/``tls_key`` paths) serves
    HTTPS — the reference's TLS listener (main.go:101-117,190-196 with
    config/config_tls.go certificates). With TLS requested but no
    certificate configured, a self-signed pair is generated under the
    engine root (``<root>/tls/``), mirroring
    generateMissingCertificates. Certificates HOT-RELOAD without a
    restart (the reference's hourly reload loop,
    config/config_tls.go:37-47,110-120): every handshake's SNI callback
    re-stats the cert/key files (throttled to once per
    ``tls_reload_s``) and swaps in a freshly loaded SSLContext when
    either mtime moved — a Let's-Encrypt-style 90-day rotation serves
    the renewed certificate with zero downtime."""
    svc = Service(
        engine,
        llm_base=llm_base,
        llm_model=llm_model,
        llm_token=llm_token,
        llm_kind=llm_kind,
        llm_providers=llm_providers,
        static_dir=static_dir,
    )
    handler = type("BoundHandler", (_Handler,), {"service": svc})
    srv = ThreadingHTTPServer((host, port), handler)
    if tls or tls_cert:
        if tls_cert is None:
            tls_cert, tls_key = generate_self_signed_cert(
                f"{engine.root}/tls"
            )
        reloader = _CertReloader(tls_cert, tls_key, reload_s=tls_reload_s)
        srv.socket = reloader.ctx.wrap_socket(srv.socket, server_side=True)
        srv._gvs_cert_reloader = reloader  # test/ops introspection handle
    return srv


class _CertReloader:
    """Certificate hot-reload for the TLS listener.

    The reference re-reads its certificate files on an hourly ticker so
    a rotated cert serves without restart (config/config_tls.go:37-47);
    here the per-handshake SNI callback re-stats the cert/key paths
    (throttled, default once/second — a stat pair, not a parse) and
    builds a FRESH SSLContext when either mtime moved. The callback
    assigns the new context onto the in-flight handshake
    (``sslobj.context = ...``, the standard SNI-vhost mechanism), and
    the listening context keeps the same callback, so no-SNI clients
    pick the new chain up on the next reloaded handshake too. A rotated
    pair that fails to load (half-written file mid-rotation) keeps the
    previous context serving and retries after the throttle window."""

    def __init__(self, cert_path: str, key_path: str, reload_s: float = 1.0):
        import ssl

        self.cert_path, self.key_path = cert_path, key_path
        self.reload_s = reload_s
        self._lock = threading.Lock()
        self._next_check = 0.0
        self._mtimes = self._stat()
        self.ctx = self._build(ssl)

    def _stat(self) -> tuple[float, float]:
        return (
            os.stat(self.cert_path).st_mtime,
            os.stat(self.key_path).st_mtime,
        )

    def _build(self, ssl):
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(self.cert_path, self.key_path)
        ctx.sni_callback = self._sni
        return ctx

    def _sni(self, sslobj, server_name, ctx) -> None:
        import ssl
        import time

        with self._lock:
            now = time.monotonic()
            if now >= self._next_check:
                self._next_check = now + self.reload_s
                try:
                    mtimes = self._stat()
                    if mtimes != self._mtimes:
                        self.ctx = self._build(ssl)
                        self._mtimes = mtimes
                except OSError:
                    pass  # mid-rotation: keep serving the old chain
            if sslobj.context is not self.ctx:
                sslobj.context = self.ctx


def serve(
    engine: Engine,
    host: str = "127.0.0.1",
    port: int = 8080,
    refresh_on_boot: bool = False,
    **kw,
) -> None:
    """Blocking entry point (the reference's ListenAndServe, main.go:183).
    ``refresh_on_boot`` mirrors the reference's startup RefreshCentroids
    sweep over every category (main.go:92 -> server/centroids.go:17-83)."""
    srv = make_server(engine, host=host, port=port, **kw)
    if refresh_on_boot:
        engine.refresh_all()
    srv.serve_forever()

"""S12: external embedding source — batched HTTP client behind the seam.

The reference embeds chunks by POSTing batches to an Ollama/OpenAI
``/api/embed`` endpoint (ai/ollama/embed.go:19-88), load-balancing
requests across ``api_base`` URLs with a least-connections picker
(ai/httpclient/provider.go:56-87), and — crucially — quantizing each
returned vector AT JSON-DECODE TIME (ai/aicomms/embed.go:42-50 →
compute.QuantizeVectorFloat32): full-precision floats never outlive the
response parser.

Spark re-expression: a ``mapInPandas`` stage so each *partition* runs
one Python worker that

  * batches its rows (``batch_size`` texts per POST — the reference's
    upload path batches chunks the same way, server/upload.go:117-132);
  * keeps one persistent ``http.client`` connection per endpoint
    (keep-alive across batches — the per-host client reuse of
    ai/httpclient/clientmanager.go);
  * picks endpoints per request with a least-connections balancer
    (:class:`_EndpointBalancer` — the reference's shuffled-tie
    fewest-in-flight picker, ai/httpclient/provider.go:56-87, plus a
    latency-EWMA tiebreak so a slow endpoint sheds load even when a
    worker issues one request at a time). State is per worker process:
    a cluster has no shared counter, and a driver-side picker would
    serialize 1000 executors; N workers × local least-connections is
    the distributed equivalent.
  * quantizes each vector with numpy the moment the JSON is decoded,
    emitting ONLY (codes, lo, hi) — the engine's canonical store form;

so embedding throughput scales with partitions and endpoint count, and
nothing full-precision is shuffled or stored. The per-batch function is
:func:`http_embed_batches`; an upload, whose chunks are already on the
driver, runs it there through :func:`embed_texts`.

The deterministic noop embedder (operators/documents.noop_embed_codes,
reference noop/ai.go:47-64) remains the default seam for tests and the
oracle — ``embed_chunks`` selects it when no ``api_bases`` are given.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OLLAMA_EMBED_PATH = "/api/embed"  # ai/ollama/embed.go:30
OPENAI_EMBED_PATH = "/v1/embeddings"  # ai/openai/embed.go:39
EMBED_PATH = OLLAMA_EMBED_PATH  # back-compat alias
_OUT_FIELDS = "codes array<int>, lo float, hi float"


@dataclass(frozen=True)
class EmbedProvider:
    """One embedding provider behind the S12 seam.

    The reference configures an Ollama and an OpenAI provider behind one
    interface; both POST the SAME request/response JSON (aicomms.
    EmbedRequest/EmbedResponse) and differ only in the URL path — ollama
    ``/api/embed`` (ai/ollama/embed.go:30), openai ``/v1/embeddings``
    (ai/openai/embed.go:39) — and in auth/config. ``kind`` picks the
    path; everything downstream (batching, quantize-at-decode, endpoint
    rotation) is shared.
    """

    api_bases: tuple[str, ...] = ()
    kind: str = "ollama"  # "ollama" | "openai"
    model: str = "embed"
    token: str = ""
    num_ctx: int = 2048
    # zstd request bodies (config RequestCompression, off by default
    # like the Go zero value; ai/ollama/embed.go:33-47)
    request_compression: bool = False

    def __post_init__(self):
        if self.kind not in ("ollama", "openai"):
            raise ValueError(f"unknown provider kind {self.kind!r}")
        object.__setattr__(self, "api_bases", tuple(self.api_bases))

    @property
    def embed_path(self) -> str:
        return OPENAI_EMBED_PATH if self.kind == "openai" else OLLAMA_EMBED_PATH

    def can_embed(self) -> bool:
        """CanEmbed analog (ai/ollama/methods.go / ai/openai): a provider
        participates iff it has at least one endpoint configured."""
        return bool(self.api_bases)


def select_embed_provider(providers: Sequence[EmbedProvider]) -> EmbedProvider:
    """Ordered provider fallback, exactly ai/methods.go:14-22: the FIRST
    provider that CanEmbed wins; none configured is an error."""
    for p in providers:
        if p.can_embed():
            return p
    raise ValueError("no embed provider configured")


def quantize_f32_np(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference quantize-at-decode (compute/quantization.go:8-19,182-192)
    for a (n, d) float matrix: per-vector 0-anchored f32 range, affine map
    to [0, 255], truncation toward zero. Returns (codes uint8, lo f32,
    hi f32) — the same math as functions.vector.quantize's f32 mode and
    the k-means round-trip in plans/ivf."""
    m = mat.astype(np.float32)
    lo = np.minimum(m.min(axis=1), np.float32(0.0)).astype(np.float32)
    hi = np.maximum(m.max(axis=1), np.float32(0.0)).astype(np.float32)
    span = (hi - lo).astype(np.float32)
    safe = np.where(span == 0.0, np.float32(1.0), span)
    clamped = np.clip(m, lo[:, None], hi[:, None]).astype(np.float32)
    scaled = ((clamped - lo[:, None]).astype(np.float32) / safe[:, None]).astype(
        np.float32
    ) * np.float32(255.0)
    codes = np.trunc(scaled.astype(np.float64)).astype(np.uint8)
    codes[span == 0.0, :] = 0
    return codes, lo, hi


def _open_connection(base: str, timeout: float):
    """(connection, path_prefix) for an api_base URL. The path component
    of the base ('http://host/ollama', a '/v1' reverse-proxy prefix) is
    preserved and prepended to the request path — dropping it would 404
    every request behind a prefixed proxy."""
    import http.client
    from urllib.parse import urlparse

    u = urlparse(base)
    cls = (
        http.client.HTTPSConnection
        if u.scheme == "https"
        else http.client.HTTPConnection
    )
    return cls(u.hostname, u.port, timeout=timeout), u.path.rstrip("/")


def _embed_payload(model: str, texts, num_ctx: int) -> dict:
    """THE embed request body (shared by the one-shot/driver path and
    the mapInPandas upload path, so the wire shape cannot drift)."""
    return {"model": model, "input": list(texts), "options": {"num_ctx": num_ctx}}


def _post_embed(conn, url: str, payload: dict, token: str, compress: bool):
    """One embed POST with the 415 plain-JSON fallback (an endpoint that
    doesn't take zstd bodies answers 415; resend uncompressed on the
    same fully-drained connection). Returns (response, used_zstd) —
    used_zstd False after a fallback so callers can remember."""
    try:
        return _post_json(conn, url, payload, token, compress=compress), compress
    except _HttpStatusError as e:
        if not (compress and e.status == 415):
            raise
        return _post_json(conn, url, payload, token), False


def _decode_embeddings(out: dict, n_texts: int):
    """Validate + quantize a provider response — the single decode:
    shape must be (n_texts, dim>0). A zero-width matrix would crash
    deep inside quantize with an unhelpful reduction error; worse, an
    endpoint serving the WRONG model yields a different width that
    would silently mix into the uniform-dimension store."""
    mat = np.asarray(out["embeddings"], dtype=np.float64)
    if mat.ndim != 2 or mat.shape[0] != n_texts or mat.shape[1] == 0:
        raise RuntimeError(
            f"embed endpoint returned shape {mat.shape} for {n_texts} texts"
        )
    return mat.shape[1], quantize_f32_np(mat)


def embed_texts_once(
    base: str,
    texts: Sequence[str],
    model: str,
    num_ctx: int = 2048,
    token: str = "",
    timeout: float = 30.0,
    path: str = EMBED_PATH,
    request_compression: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One connection, one batch POST, quantize-at-decode. The single
    shared implementation of the request/decode shape — the driver-side
    query embed (api.Engine._embed_query) and any one-shot callers use
    this so the query path can never drift from the upload path.
    ``request_compression`` zstd-compresses the request body (the
    reference's opt-in RequestCompression flag); an endpoint answering
    415 Unsupported Media Type gets a plain-JSON resend."""
    conn, prefix = _open_connection(str(base).rstrip("/"), timeout)
    try:
        payload = _embed_payload(model, texts, num_ctx)
        out, _ = _post_embed(
            conn, prefix + path, payload, token, request_compression
        )
    finally:
        conn.close()
    return _decode_embeddings(out, len(texts))[1]


class _EndpointBalancer:
    """Least-connections endpoint picker with shuffled ties and a
    latency-EWMA tiebreak (ai/httpclient/provider.go:56-87).

    The reference shuffles its endpoint list and picks the fewest
    in-flight connections. Each Spark Python worker balances its OWN
    traffic (executors share no state), so the in-flight count is kept
    as the PRIMARY key — it dominates whenever a worker issues
    concurrent requests, exactly like the reference — and a latency
    EWMA breaks the tie when it cannot: with one request in flight at a
    time the reference's counter is always zero and its pick degenerates
    to uniform random, sending a slow endpoint half the traffic; the
    EWMA routes measurably less to it. An endpoint idle for
    ``probe_every`` selections is re-probed (latency treated as
    unknown/optimistic) so a recovered endpoint wins load back instead
    of starving forever; failures score as ``fail_penalty_s``."""

    def __init__(
        self,
        bases: Sequence[str],
        seed: int = 0,
        alpha: float = 0.3,
        probe_every: int = 10,
        fail_penalty_s: float = 30.0,
    ):
        import random
        import threading

        self.bases = list(bases)
        self.alpha = alpha
        self.probe_every = probe_every
        self.fail_penalty_s = fail_penalty_s
        self._rng = random.Random(seed)
        self._lock = threading.Lock()
        self._inflight = dict.fromkeys(self.bases, 0)
        self._ewma: dict[str, float | None] = dict.fromkeys(self.bases)
        self._idle = dict.fromkeys(self.bases, 0)

    def acquire(self, exclude: Sequence[str] = ()):
        """Pick an endpoint; returns (base, done). Call ``done()`` when
        the request finishes (``done(failed=True)`` on error) — the
        reference's ``Url() (uri, done func())`` shape."""
        import time

        with self._lock:
            order = [b for b in self.bases if b not in set(exclude)] or list(
                self.bases
            )
            self._rng.shuffle(order)  # shuffled ties (provider.go:63-66)

            def key(b: str) -> tuple:
                lat = self._ewma[b]
                if lat is None or self._idle[b] >= self.probe_every:
                    lat = 0.0  # untried / due a re-probe: optimistic
                return (self._inflight[b], lat)

            best = min(order, key=key)
            self._inflight[best] += 1
            for b in self.bases:
                self._idle[b] += 1
            self._idle[best] = 0
        t0 = time.monotonic()

        def done(failed: bool = False) -> None:
            elapsed = self.fail_penalty_s if failed else time.monotonic() - t0
            with self._lock:
                self._inflight[best] -= 1
                prev = self._ewma[best]
                self._ewma[best] = (
                    elapsed
                    if prev is None
                    else (1 - self.alpha) * prev + self.alpha * elapsed
                )

        return best, done


class _HttpStatusError(RuntimeError):
    """Non-200 from the embed endpoint, carrying the status so the retry
    loop can tell permanent client errors (401/404/422 — retrying those
    against every endpoint just multiplies the failure by the backoff
    budget) from transient ones (5xx, 408, 429)."""

    def __init__(self, msg: str, status: int):
        super().__init__(msg)
        self.status = status

    @property
    def permanent(self) -> bool:
        return 400 <= self.status < 500 and self.status not in (408, 429)


def _zstd_compress(data: bytes) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    return bytes(sink.getvalue())


def _zstd_decompress(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.input_stream(pa.BufferReader(data), compression="zstd").read()


def _post_json(
    conn, path: str, payload: dict, token: str, compress: bool = False
) -> dict:
    """One POST + JSON decode. ``compress=True`` zstd-compresses the
    request body with ``Content-Encoding: zstd`` (the reference's
    RequestCompression, ai/httpclient/compression.go:31 wired through
    ai/ollama/embed.go:33-47 — at upload scale the chunk-text payloads
    dominate bandwidth). ``Accept-Encoding: zstd`` is always advertised
    and a zstd response is transparently decompressed
    (ai/ollama/embed.go:49,72), matching the service's own middleware."""
    import json

    body = json.dumps(payload).encode()
    headers = {
        "Content-Type": "application/json",
        "Accept-Encoding": "zstd",
    }
    if compress:
        body = _zstd_compress(body)
        headers["Content-Encoding"] = "zstd"
    if token:
        headers["Authorization"] = f"Bearer {token}"
    conn.request("POST", path, body=body, headers=headers)
    resp = conn.getresponse()
    data = resp.read()
    if resp.status != 200:
        raise _HttpStatusError(
            f"embed endpoint {path} -> {resp.status}: {data[:200]!r}", resp.status
        )
    if (resp.getheader("Content-Encoding") or "").strip().lower() == "zstd":
        data = _zstd_decompress(data)
    return json.loads(data)


def http_embed(df: DataFrame, text_col: str = "chunk", **options) -> DataFrame:
    """Embed ``text_col`` via batched HTTP POSTs; appends (codes, lo, hi).
    One ``mapInPandas`` stage of :func:`http_embed_batches`, whose
    keyword arguments ``options`` are."""
    in_fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
    run = http_embed_batches(text_col, **options)
    return df.mapInPandas(run, schema=f"{in_fields}, {_OUT_FIELDS}")


def http_embed_batches(
    text_col: str = "chunk",
    api_bases: Sequence[str] = (),
    model: str = "embed",
    batch_size: int = 32,
    num_ctx: int = 2048,
    token: str = "",
    timeout: float = 30.0,
    path: str = EMBED_PATH,
    max_attempts: int | None = None,
    backoff_s: float = 0.2,
    request_compression: bool = False,
):
    """:func:`http_embed`'s per-batch function: iterator of pandas
    frames -> the same frames with (codes, lo, hi) appended. Spark runs
    it in ``mapInPandas``; an upload calls it on the driver over its
    chunks, so both get the same batching, endpoint rotation, retries
    and quantize-at-decode.

    Request shape matches the reference (ai/ollama/embed.go:19-33 +
    aicomms/embed.go:11-19): ``{"model": m, "input": [texts...],
    "options": {"num_ctx": n}}``, ``batch_size`` texts per POST; bearer
    auth when ``token`` is set (embed.go:50-52). Response:
    ``{"embeddings": [[floats...], ...]}`` — quantized row-by-row at
    decode, full precision discarded.

    Endpoint selection is least-connections with latency-EWMA ties
    (:class:`_EndpointBalancer`, ai/httpclient/provider.go:56-87).
    Failure handling: each request has a retry budget of
    ``max_attempts`` (default ``2 × len(api_bases)``); a failed attempt
    closes that endpoint's connection, re-picks among the endpoints
    this request hasn't tried yet,
    and backs off exponentially (``backoff_s · 2^i``, capped at 2 s).
    A dead endpoint therefore degrades throughput instead of failing
    the Spark task (whose retry would re-embed the partition's earlier
    batches); the budget exhausting raises the LAST error.
    """
    if not api_bases:
        raise ValueError("http_embed needs at least one api_base URL")
    bases = [str(b).rstrip("/") for b in api_bases]
    if max_attempts is None:
        max_attempts = 2 * len(bases)
    max_attempts = max(1, max_attempts)  # 0/negative would skip the loop

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        balancer = _EndpointBalancer(
            bases, seed=(ctx.partitionId() if ctx is not None else 0)
        )
        conns: dict[str, tuple[object, str]] = {}
        # per-worker memo of endpoints that answered 415 to a zstd body:
        # they get plain JSON from then on (one fallback round-trip per
        # endpoint per worker, not per request)
        no_zstd: set[str] = set()

        def connection(base: str) -> tuple[object, str]:
            if base not in conns:
                conns[base] = _open_connection(base, timeout)
            return conns[base]

        expected_dim: list[int] = []  # worker-local width pin

        def embed_texts(texts: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
            import time

            payload = _embed_payload(model, texts, num_ctx)
            last_err: Exception | None = None
            tried: set[str] = set()
            permanent: set[str] = set()  # bases that answered 4xx-permanent
            for attempt in range(max_attempts):
                # least-connections pick; retries EXCLUDE endpoints this
                # request already failed on until every distinct base has
                # been tried once, and ALWAYS exclude bases that returned
                # a permanent error (a dead or misconfigured endpoint
                # can't eat the whole budget when others are healthy)
                excl = tried | permanent
                if len(excl) >= len(bases):
                    excl = permanent if len(permanent) < len(bases) else set()
                base, done = balancer.acquire(exclude=excl)
                tried.add(base)
                try:
                    conn, prefix = connection(base)
                    use_z = request_compression and base not in no_zstd
                    out, used_z = _post_embed(
                        conn, prefix + path, payload, token, use_z
                    )
                    if use_z and not used_z:
                        # 415 fallback fired: remember for this worker
                        no_zstd.add(base)
                    done()
                    break
                except Exception as e:  # connection drop, refused, 5xx...
                    done(failed=True)
                    last_err = e
                    # drop the (possibly half-dead) keep-alive connection
                    if base in conns:
                        conns[base][0].close()
                        del conns[base]
                    if isinstance(e, _HttpStatusError) and e.permanent:
                        # permanent client errors (bad token, unknown
                        # model/path) don't heal with time — skip the
                        # backoff and never re-pick this base — but fail
                        # the REQUEST only when every distinct base has
                        # answered permanent (one stale replica's 404
                        # must not kill a request a healthy sibling
                        # would serve, even after a transient blip spent
                        # an attempt)
                        permanent.add(base)
                        if len(permanent) >= len(bases):
                            raise
                        if attempt + 1 >= max_attempts:
                            raise
                        continue
                    if attempt + 1 >= max_attempts:
                        raise
                    time.sleep(min(backoff_s * (2**attempt), 2.0))
            else:  # pragma: no cover - loop always breaks or raises
                raise last_err  # type: ignore[misc]
            dim, quant = _decode_embeddings(out, len(texts))
            # width pin: two load-balanced endpoints serving DIFFERENT
            # models would otherwise emit different-width codes into the
            # uniform-dimension store with no error anywhere
            if not expected_dim:
                expected_dim.append(dim)
            elif dim != expected_dim[0]:
                raise RuntimeError(
                    f"embed endpoint returned dim {dim}, earlier batches "
                    f"of this worker got {expected_dim[0]} — mixed models "
                    "behind one provider config"
                )
            return quant

        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                texts = pdf[text_col].fillna("").astype(str).tolist()
                codes_parts, lo_parts, hi_parts = [], [], []
                for i in range(0, len(texts), batch_size):
                    codes, lo, hi = embed_texts(texts[i : i + batch_size])
                    codes_parts.append(codes)
                    lo_parts.append(lo)
                    hi_parts.append(hi)
                codes = np.concatenate(codes_parts)
                out = pdf.copy()
                out["codes"] = [row.astype(np.int32).tolist() for row in codes]
                out["lo"] = np.concatenate(lo_parts)
                out["hi"] = np.concatenate(hi_parts)
                yield out
        finally:
            for c, _prefix in conns.values():
                c.close()

    return run


def embed_chunks(
    df: DataFrame,
    text_col: str = "chunk",
    api_bases: Sequence[str] | None = None,
    dim: int = 64,
    providers: Sequence[EmbedProvider] | None = None,
    **http_kwargs,
) -> DataFrame:
    """The S12 seam: HTTP embedding when a provider is configured, the
    deterministic noop embedder otherwise (the engine's in-process
    fallback, noop/ai.go:47-64). ``providers`` is the full reference
    shape — an ordered [ollama, openai, ...] list resolved by
    :func:`select_embed_provider` (ai/methods.go:14-22); ``api_bases``
    remains the one-provider Ollama shorthand. Both HTTP paths and the
    noop emit the same canonical (codes, lo, hi) columns."""
    http = _http_options(api_bases, providers, http_kwargs)
    if http is not None:
        return http_embed(df, text_col=text_col, **http)
    from go_vectorsearch_spark.operators.documents import (
        NOOP_HI,
        NOOP_LO,
        noop_embed_codes,
    )

    return (
        df.withColumn("codes", noop_embed_codes(F.col(text_col), dim=dim))
        .withColumn("lo", F.lit(NOOP_LO).cast("float"))
        .withColumn("hi", F.lit(NOOP_HI).cast("float"))
    )


def embed_texts(
    texts: Sequence[str],
    api_bases: Sequence[str] | None = None,
    dim: int = 64,
    providers: Sequence[EmbedProvider] | None = None,
    **http_kwargs,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`embed_chunks` on the driver for texts already there (an
    upload's chunks): (codes (n, d) uint8, lo f32, hi f32), equal to
    the frame's columns. Noop mode hashes each text with
    ``documents.noop_codes_text``; HTTP mode runs
    :func:`http_embed_batches` over the texts as one batch stream. No
    Spark job runs."""
    http = _http_options(api_bases, providers, http_kwargs)
    if http is not None:
        run = http_embed_batches(text_col="chunk", **http)
        (out,) = run(iter([pd.DataFrame({"chunk": list(texts)})]))
        return (
            np.array(out["codes"].tolist(), dtype=np.uint8),
            out["lo"].to_numpy(dtype=np.float32),
            out["hi"].to_numpy(dtype=np.float32),
        )
    from go_vectorsearch_spark.operators.documents import (
        NOOP_HI,
        NOOP_LO,
        noop_codes_text,
    )

    codes = np.frombuffer(
        b"".join(noop_codes_text(t, dim=dim) for t in texts), dtype=np.uint8
    ).reshape(len(texts), dim)
    return (
        codes,
        np.full(len(texts), NOOP_LO, dtype=np.float32),
        np.full(len(texts), NOOP_HI, dtype=np.float32),
    )


def _http_options(
    api_bases: Sequence[str] | None,
    providers: Sequence[EmbedProvider] | None,
    http_kwargs: dict,
) -> dict | None:
    """:func:`http_embed` keyword arguments for the configured provider
    (explicit caller kwargs override the provider config), or ``None``
    for the noop embedder."""
    if providers:
        p = select_embed_provider(providers)
        return {
            **http_kwargs,
            "api_bases": list(p.api_bases),
            "model": http_kwargs.get("model") or p.model,
            "token": http_kwargs.get("token", p.token),
            "num_ctx": http_kwargs.get("num_ctx", p.num_ctx),
            "path": http_kwargs.get("path", p.embed_path),
            "request_compression": http_kwargs.get(
                "request_compression", p.request_compression
            ),
        }
    if api_bases:
        return {**http_kwargs, "api_bases": api_bases}
    return None

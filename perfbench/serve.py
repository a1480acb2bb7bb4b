"""The serving workload: ``/api/*`` over loopback on an Engine with the
in-process noop embedder.

Set-up uploads a seeded corpus in one request and builds an IVF index
sized to about 20 lists. Then one closed-loop client sends:

write  /api/upload of 8 held-out documents, then one
       /api/delete/document;
read   /api/search (count 10, centroids 2) for seeded corpus prefixes.
       The writes have just cleared the TTL cache, so the first search
       is a search after a write, and it loads the cache the others use.

Each phase gets half of ``--seconds``, as a count of operations sized
from their cost on a loaded 4-core box (``_counts``), not as a timer:
the median then covers the same number of operations on a fast or a
slow host.

The read-back checks run outside the timed phases; so does the recall
ground truth (one /api/search_batch with centroids -1), in traced runs
only, to keep the gated runs short.
"""

from __future__ import annotations

import json
import os
import threading

import gen
from common import Client, p50

OWNER, CATEGORY = "bench", "corpus"
CORPUS_DOCS = 1000
TARGET_LISTS = 20  # IVF lists the set-up index is sized for
WRITE_BATCH = 8  # documents per write-phase upload
QUERY_POOL = 32
SEARCH_S, UPLOAD_S = 1.4, 3.5  # nominal seconds each, loaded 4-core box


def _counts(seconds: float) -> tuple[int, int]:
    """(searches, uploads) that fill half of ``seconds`` each; at least
    the search after the writes and four more."""
    return max(5, round(seconds / 2 / SEARCH_S)), max(1, round(seconds / 2 / UPLOAD_S))


class Service:
    """Engine + HTTP server on a free loopback port, stopped by close()."""

    def __init__(self, ctx):
        from go_vectorsearch_spark.api import Engine
        from go_vectorsearch_spark.service import make_server

        self.root = os.path.join(ctx.run_dir, "engine")
        self.engine = Engine(ctx.spark, self.root)
        self.srv = make_server(self.engine)
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)


class State:
    """What the client side knows the store must hold."""

    def __init__(self):
        self.names: dict[int, str] = {}  # live or deleted id -> uploaded name
        self.deleted: set[int] = set()
        self.user_bytes = 0

    def live(self) -> list[int]:
        return sorted(set(self.names) - self.deleted)


def _upload(ctx, client, st: State, docs, rid):
    """Upload and check: 200 and one fresh id per document."""
    status, body, ms = client.post(
        "/api/upload",
        {"owner": OWNER, "category": CATEGORY, "documents": docs, "request_id": rid},
    )
    ids = body.get("document_ids") or []
    fresh = set(ids) - set(st.names)
    ctx.check(status == 200 and len(ids) == len(docs) and len(fresh) == len(docs),
              f"upload {rid}: status {status}, {len(fresh)} fresh ids for {len(docs)} docs")
    st.names.update(zip(ids, (d["name"] for d in docs)))
    st.user_bytes += sum(len(json.dumps(d["document"])) for d in docs)
    return ids, ms


def _search(ctx, client, st: State, text, rid):
    """Search and check: 200, a full page, every hit a live document
    whose stored name is the one uploaded under its id."""
    status, body, ms = client.post(
        "/api/search",
        {"owner": OWNER, "category": CATEGORY, "text": text, "count": 10,
         "centroids": 2, "request_id": rid},
    )
    hits = body.get("documents") or []
    ids = [d.get("document_id") for d in hits]
    foreign = [d for d in hits if st.names.get(d.get("document_id")) != d.get("name")]
    gone = [i for i in ids if i in st.deleted]
    ctx.check(status == 200 and len(hits) == 10 and not foreign and not gone,
              f"search {rid}: status {status}, {len(hits)}/10 hits, "
              f"{len(foreign)} foreign, {len(gone)} deleted")
    return ids, ms


def _delete(ctx, client, st: State, doc_id, rid) -> float:
    status, _body, ms = client.post(
        "/api/delete/document",
        {"owner": OWNER, "category": CATEGORY, "document_id": doc_id, "request_id": rid},
    )
    ctx.check(status == 200, f"delete {rid}: status {status}")
    st.deleted.add(doc_id)
    return ms


def _read_phase(ctx, client, st, pool, n):
    lat, got = [], {}
    for i in range(n):
        rid = f"r{i}"
        q = pool[i % len(pool)]
        ids, ms = _search(ctx, client, st, q, rid)
        lat.append(ms)
        got[rid] = (q, ids)
        ctx.op(rid, ms)
    return lat, got


def _recall(ctx, client, got) -> list[float]:
    """recall@10 of each read-phase search against the exact top 10 from
    one /api/search_batch over every list."""
    texts = sorted({q for q, _ in got.values()})
    status, body, _ = client.post(
        "/api/search_batch",
        {"owner": OWNER, "category": CATEGORY, "texts": texts, "count": 10,
         "centroids": -1, "request_id": "exact"},
    )
    results = body.get("results") or []
    ctx.check(status == 200 and len(results) == len(texts),
              f"exact search_batch: status {status}, {len(results)}/{len(texts)} results")
    exact = {
        q: {d.get("document_id") for d in r.get("documents", [])}
        for q, r in zip(texts, results)
    }
    return [len(set(ids) & exact.get(q, set())) / 10.0 for q, ids in got.values()]


def _write_phase(ctx, client, st, held):
    lat = {"upload": [], "delete": []}
    for k in range(0, len(held), WRITE_BATCH):
        rid = f"w{k // WRITE_BATCH}-upload"
        _ids, ms = _upload(ctx, client, st, held[k : k + WRITE_BATCH], rid)
        lat["upload"].append(ms)
        ctx.op(rid, ms)
    live = st.live()
    ms = _delete(ctx, client, st, live[(ctx.seed * 31) % len(live)], "w-delete")
    lat["delete"].append(ms)
    ctx.op("w-delete", ms)
    return lat


def _final_checks(ctx, client, st: State, written: list[int]) -> None:
    """Every id uploaded in the write phase and still live reads back,
    no deleted id does, and the category holds uploads minus deletes."""
    # a page holds at most 20 documents: ask for 20 ids at a time, live
    # and deleted mixed, and expect exactly the live ones back
    asked = sorted(set(written) | st.deleted)
    for i in range(0, max(len(asked), 1), 20):
        ids = asked[i : i + 20]
        want = {x for x in ids if x not in st.deleted}
        status, body, _ = client.post(
            "/api/search",
            {"owner": OWNER, "category": CATEGORY, "text": "read back", "count": 20,
             "centroids": -1, "filter": {"document_ids": ids}},
        )
        got = {d.get("document_id") for d in body.get("documents") or []}
        ctx.check(status == 200 and got == want,
                  f"read-back: {len(want - got)} of {len(want)} ids missing, "
                  f"{len(got - want)} deleted ids returned")
    status, body, _ = client.post("/api/admin/stats", {})
    cats = [c for c in body.get("categories", []) if c.get("category") == CATEGORY]
    n = cats[0]["documents"] if cats else -1
    ctx.check(status == 200 and n == len(st.live()),
              f"document count {n}, expected {len(st.live())} (uploads minus deletes)")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n)) for r, _d, ns in os.walk(path) for n in ns)


def serve(ctx) -> None:
    n_search, n_upload = _counts(ctx.seconds)
    docs = gen.corpus(ctx.seed, CORPUS_DOCS)
    held = gen.corpus(ctx.seed, WRITE_BATCH * n_upload, start=1_000_000)
    pool = gen.queries(ctx.seed, docs, QUERY_POOL)
    st = State()
    svc = Service(ctx)
    try:
        client = Client(svc.port)
        _upload(ctx, client, st, docs, "setup-upload")
        ctx.mark(f"uploaded {len(docs)} documents")
        lists = svc.engine.refresh_index(OWNER, CATEGORY, max_leaf=CORPUS_DOCS // TARGET_LISTS)
        ctx.check(lists >= 2, f"index has {lists} lists")
        ctx.mark(f"index built: {lists} lists")
        ctx.setup_done()

        before = set(st.names)
        lat = _write_phase(ctx, client, st, held)
        ctx.mark("write phase done")
        lat1, got = _read_phase(ctx, client, st, pool, n_search)
        recall = _recall(ctx, client, got) if ctx.trace else []
        ctx.mark("read phase done")
        _final_checks(ctx, client, st, sorted(set(st.names) - before))
        client.close()
        store_bytes = _dir_bytes(svc.root)
        ctx.mark("checks done")
    finally:
        svc.close()

    # the first search after the writes reloads the TTL cache; the rest
    # are the steady state, in which about one search in four reloads it
    # (5 s TTL), so the median of four or more is a cache hit whatever
    # the host's speed
    steady = lat1[1:]
    ctx.headline(read_ms=p50(steady), write_ms=p50(lat["upload"]))
    ctx.line("index_lists", lists, "count", 1)
    print("samples: search " + " ".join(f"{x:.0f}" for x in lat1)
          + " | upload " + " ".join(f"{x:.0f}" for x in lat["upload"]), flush=True)
    ctx.line("search_p50_ms", p50(steady), "ms", len(steady))
    ctx.tail_line("search_tail_ms", steady)
    if recall:
        ctx.line("search_recall_at_10", sum(recall) / len(recall), "ratio", len(recall))
    ctx.line("upload_p50_ms", p50(lat["upload"]), "ms", len(lat["upload"]))
    ctx.tail_line("upload_tail_ms", lat["upload"])
    ctx.line("search_after_write_p50_ms", lat1[0], "ms", 1)
    ctx.line("delete_p50_ms", p50(lat["delete"]), "ms", len(lat["delete"]))
    ctx.line("ingest_docs_per_s", 1000.0 * WRITE_BATCH * len(lat["upload"])
             / sum(lat["upload"]), "1/s", len(lat["upload"]))
    ctx.line("store_bytes_per_user_byte", store_bytes / st.user_bytes, "ratio", 1)

"""Layer boundaries the traced run wraps, and the per-layer metrics it
derives from the spans and the Spark event log.

Layer names follow the package's modules: ``service`` (HTTP routes),
``api`` (Engine orchestration and its TTL cache), ``store`` (the
versioned table), ``embed``, ``assign``, ``search``, ``ivf`` (with PQ,
PCA and LSH in the registry), ``queries`` (the registry) and ``spark``
(task metrics of the jobs a span launched).
"""

from __future__ import annotations

import os
import statistics
import time

from spans import ancestors, layer_of, self_times

SELF_LAYERS = ["service", "api", "store", "embed", "assign", "search", "ivf", "queries"]
FAMILIES = ["ann", "curate", "text", "relational"]
SPARK_KEYS = ["jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "input_records"]
SPARK_NAMES = {
    "jobs": "spark.jobs",
    "tasks": "spark.tasks",
    "run_ms": "spark.task_run_ms",
    "cpu_ms": "spark.task_cpu_ms",
    "gc_ms": "spark.gc_ms",
    "shuffle_bytes": "spark.shuffle_bytes",
    "input_records": "spark.input_records",
}

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "service.overhead_ms": "ms",
    "api.cache_hit_share": "ratio",
    "api.cache_load_ms": "ms",
    "embed.query_ms": "ms",
    "embed.chunks_build_ms": "ms",
    "embed.chunks": "count",
    "assign.build_ms": "ms",
    "search.topk_build_ms": "ms",
    "ivf.rank_ms": "ms",
    "ivf.lists_probed": "count",
    "ivf.build_ms": "ms",
    "store.read_ms": "ms",
    "store.reads_per_op": "count",
    "store.commit_ms": "ms",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    **{v: ("count" if k in ("jobs", "tasks", "input_records") else
           "bytes" if k == "shuffle_bytes" else "ms") for k, v in SPARK_NAMES.items()},
    "spark.persisted_rdds": "count",
    **{f"queries.{f}.{m}": ("count" if m == "eager_jobs" else "ms")
       for f in FAMILIES for m in ("fn_ms", "eager_jobs", "plan_ms", "exec_ms")},
    **{f"{layer}.self_ms": "ms" for layer in SELF_LAYERS},
    "trace.read_ms": "ms",
    "trace.write_ms": "ms",
    "trace.bookkeeping_ms": "ms",
    "trace.spans_per_op": "count",
}

# first match wins: the embedding-space dedup entries are ANN work
_FAMILY_PREFIXES = [
    ("ann", ("ann_", "ivf_", "cosine_topk", "centroid_assign", "batch_search",
             "quantize_", "normalize_", "vector_", "dedup_embedding", "dedup_semantic")),
    ("relational", ("groupby_", "join_fk", "scan_projection", "cascade_delete", "events_")),
    ("curate", ("dedup_", "substr_", "decontaminate_", "boilerplate_", "line_dedup",
                "pipeline_", "cdc_")),
]


def family(entry: str) -> str:
    """Registry family of an entry: ann, curate, text or relational."""
    for fam, prefixes in _FAMILY_PREFIXES:
        if entry.startswith(prefixes):
            return fam
    return "text"


def _rid_from_request(args, kwargs):
    """Service route bodies take the decoded JSON request as ``req``."""
    return args[1].get("request_id")


def _commit_after(sp, args, kwargs, out):
    """Files, bytes and rows of the batch directory the commit wrote,
    read from the file system and parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    table = args[0]
    v = table._version()
    sp["table"] = table.name
    batch = os.path.join(table.dir, "_data", f"w{v}")
    files = nbytes = rows = 0
    for root, _dirs, names in os.walk(batch):
        for n in names:
            p = os.path.join(root, n)
            files += 1
            nbytes += os.path.getsize(p)
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
    sp.update(files=files, bytes=nbytes, rows=rows, batch=batch)


def _cache_call(orig, sp, self, key, loader):
    """A hit is a get that never called the loader."""
    sp["hit"] = True

    def timed():
        sp["hit"] = False
        t0 = time.perf_counter()
        try:
            return loader()
        finally:
            sp["load_ms"] = (time.perf_counter() - t0) * 1000.0

    return orig(self, key, timed)


def persisted_rdds(sc) -> int:
    """Persisted RDDs live in the session right now."""
    return len(sc._jsc.getPersistentRDDs())


def install_serving(tracer) -> None:
    from go_vectorsearch_spark import api, service
    from go_vectorsearch_spark.plans import ivf
    from go_vectorsearch_spark.sources import embed_http

    def after_request(sp, args, kwargs, out):
        sp["persisted"] = persisted_rdds(tracer.sc)

    for m in ("search", "upload", "delete_document", "admin_refresh", "admin_stats"):
        tracer.wrap(service.Service, m, f"service.{m}", rid=_rid_from_request,
                    after=after_request)
    for m in ("search", "upload", "delete_document", "delete_documents",
              "refresh_index", "refresh_index_incremental", "stats"):
        tracer.wrap(api.Engine, m, f"api.{m}")
    tracer.wrap(api._TTLCache, "get", "api.cache", call=_cache_call)
    tracer.wrap(api.Engine, "_embed_query", "embed.query")
    tracer.wrap(api, "prepare_chunks", "embed.prepare_chunks")
    tracer.wrap(embed_http, "embed_chunks", "embed.chunks_build")
    tracer.wrap(api, "assign_nearest", "assign.build")
    tracer.wrap(api, "brute_force_topk", "search.topk_build")
    tracer.wrap(api, "_rank_probe_ids", "ivf.rank",
                after=lambda sp, a, k, out: sp.update(n=len(out)))
    tracer.wrap(ivf, "build_index", "ivf.build")
    tracer.wrap(api._VersionedTable, "read", "store.read")
    for m in ("append", "write", "upsert", "overwrite_partitions", "replace_partitions"):
        tracer.wrap(api._VersionedTable, m, "store.commit", after=_commit_after)


def install_registry(tracer) -> None:
    from go_vectorsearch_spark.plans import ivf, lsh, pca, pq

    tracer.wrap(ivf, "build_index", "ivf.build")
    tracer.wrap(pq, "train_pq", "ivf.pq_train")
    tracer.wrap(pq, "encode_pq", "ivf.pq_encode")
    tracer.wrap(pq, "pq_search", "ivf.pq_search")
    tracer.wrap(pq, "ivfpq_search", "ivf.ivfpq_search")
    tracer.wrap(pca, "fit_pca", "ivf.pca_fit")
    tracer.wrap(pca, "project_pca", "ivf.pca_project")
    tracer.wrap(pca, "pca_search_rerank", "ivf.pca_search")
    tracer.wrap(lsh, "lsh_search", "ivf.lsh_search")


def _dur(sp) -> float:
    return (sp["t1"] - sp["t0"]) * 1000.0


def per_layer(spans, groups, op_rids, client_ms=None, extra=None, passes=1) -> dict:
    """Per-layer metrics over the spans of the timed operations
    ``op_rids`` (request ids or registry entry names), per operation
    unless the name says otherwise; registry family totals are per pass
    over the entry set. Layers a workload never reaches read 0."""
    out = {name: 0.0 for name in PER_LAYER}
    n_ops = max(1, len(op_rids))
    anc = ancestors(spans)
    own = self_times(spans)
    sel = [sp for sp in spans if sp.get("rid") in op_rids]

    def total(name):
        return sum(_dur(sp) for sp in sel if sp["name"] == name)

    for layer in SELF_LAYERS:
        out[f"{layer}.self_ms"] = sum(
            own[sp["id"]] for sp in sel if layer_of(sp["name"]) == layer
        ) / n_ops

    if client_ms:
        roots = {sp["rid"]: _dur(sp) for sp in sel if sp["name"].startswith("service.")
                 and not anc[sp["id"]]}
        gaps = [client_ms[r] - roots[r] for r in op_rids if r in roots and r in client_ms]
        out["service.overhead_ms"] = statistics.median(gaps) if gaps else 0.0

    gets = [sp for sp in sel if sp["name"] == "api.cache"]
    if gets:
        out["api.cache_hit_share"] = sum(1 for sp in gets if sp.get("hit")) / len(gets)
    out["api.cache_load_ms"] = sum(sp.get("load_ms", 0.0) for sp in gets) / n_ops

    out["embed.query_ms"] = total("embed.query") / n_ops
    out["embed.chunks_build_ms"] = total("embed.chunks_build") / n_ops
    out["assign.build_ms"] = total("assign.build") / n_ops
    out["search.topk_build_ms"] = total("search.topk_build") / n_ops
    out["ivf.rank_ms"] = total("ivf.rank") / n_ops
    ranks = [sp["n"] for sp in sel if sp["name"] == "ivf.rank"]
    if ranks:
        out["ivf.lists_probed"] = sum(ranks) / len(ranks)
    out["ivf.build_ms"] = sum(_dur(sp) for sp in spans if sp["name"] == "ivf.build")

    reads = [sp for sp in sel if sp["name"] == "store.read" and "store.read" not in anc[sp["id"]]]
    out["store.read_ms"] = sum(_dur(sp) for sp in reads) / n_ops
    out["store.reads_per_op"] = len(reads) / n_ops
    commits = [sp for sp in sel if sp["name"] == "store.commit"
               and "store.commit" not in anc[sp["id"]]]
    out["store.commit_ms"] = sum(_dur(sp) for sp in commits) / n_ops
    out["store.files_written"] = sum(sp.get("files", 0) for sp in commits) / n_ops
    out["store.bytes_written"] = sum(sp.get("bytes", 0) for sp in commits) / n_ops
    uploads = [sp for sp in sel if sp["name"] == "api.upload"]
    if uploads:
        chunk_rows = sum(
            sp.get("rows", 0) for sp in commits
            if sp.get("table") == "embeddings" and "api.upload" in anc[sp["id"]]
        )
        out["embed.chunks"] = chunk_rows / len(uploads)

    out["spark.persisted_rdds"] = float(max((sp.get("persisted", 0) for sp in sel), default=0))
    for sp in sel:
        g = groups.get(f"pb{sp['id']}")
        if not g:
            continue
        for k in SPARK_KEYS:
            out[SPARK_NAMES[k]] += g.get(k, 0.0) / n_ops
        # jobs run anywhere below a registry function, before it returned
        root = anc[sp["id"]][-1] if anc[sp["id"]] else sp["name"]
        if root.startswith("queries.") and root.endswith(".fn"):
            out[f"queries.{root.split('.')[1]}.eager_jobs"] += g.get("jobs", 0.0) / passes

    for sp in sel:
        parts = sp["name"].split(".")
        if parts[0] == "queries" and len(parts) == 3:
            fam, kind = parts[1], parts[2]
            if kind == "fn":
                out[f"queries.{fam}.fn_ms"] += _dur(sp) / passes
            elif kind == "exec":
                out[f"queries.{fam}.exec_ms"] += _dur(sp) / passes
                out[f"queries.{fam}.plan_ms"] += sp.get("plan_ms", 0.0) / passes

    out["trace.bookkeeping_ms"] = sum(sp.get("bk_ms", 0.0) for sp in sel) / n_ops
    out["trace.spans_per_op"] = len(sel) / n_ops
    out.update(extra or {})
    return out

"""End-to-end service-parity tests: upload -> search -> fetch -> delete ->
refresh over managed versioned tables (reference API surface §2.11)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from go_vectorsearch_spark.api import Engine


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("engine_root")))
    ids = eng.upload(
        "acme",
        "wiki",
        [
            {"name": "Doc A", "external_id": "a", "document": json.dumps({"title": "alpha", "body": "spark shuffles data between stages"})},
            {"name": "Doc B", "external_id": "b", "document": json.dumps({"title": "beta", "body": "catalyst optimizes logical plans"})},
            {"name": "Doc C", "external_id": "c", "document": json.dumps(["plain", "list", "payload"])},
        ],
    )
    eng.upload("acme", "blog", [{"name": "Post", "external_id": "p", "document": json.dumps("short post")}])
    eng.upload("other", "wiki", [{"name": "X", "external_id": "x", "document": json.dumps("unrelated tenant")}])
    return eng, ids


def test_upload_created_rows(engine):
    eng, ids = engine
    assert ids == [1, 2, 3]
    docs = eng.t["documents"].read()
    assert docs.count() == 5
    emb = eng.t["embeddings"].read()
    assert emb.count() >= 5  # >=1 chunk per document
    # every embedding assigned to a real centroid of some category
    cents = {r["centroid_id"] for r in eng.t["centroids"].read().collect()}
    assert {r["centroid_id"] for r in emb.collect()} <= cents


def test_search_returns_scoped_ranked(engine):
    eng, ids = engine
    res = eng.search("acme", "wiki", "spark shuffles", count=3, nprobe=-1).collect()
    assert 1 <= len(res) <= 3
    got_ids = {r["document_id"] for r in res}
    assert got_ids <= set(ids)  # never leaks other categories/tenants
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    # hydration carries payload + name (server/search.go:285-308)
    assert all(r["payload_json"] for r in res)


def test_search_missing_scope_empty(engine):
    eng, _ = engine
    assert eng.search("nobody", "wiki", "x").count() == 0
    assert eng.search("acme", "nope", "x").count() == 0


def test_fetch_category_names(engine):
    eng, _ = engine
    assert eng.fetch_category_names("acme") == ["blog", "wiki"]
    assert eng.fetch_category_names("other") == ["wiki"]
    assert eng.fetch_category_names("nobody") == []


def test_refresh_index_reassigns(engine):
    eng, _ = engine
    n = eng.refresh_index("acme", "wiki", max_leaf=2)
    assert n >= 1
    # all wiki embeddings now point at the new centroids of that category
    cid = eng._category_id("acme", "wiki")
    cents = eng.t["centroids"].read().filter(F.col("category_id") == cid)
    cent_ids = {r["centroid_id"] for r in cents.collect()}
    docs = eng.t["documents"].read().filter(F.col("category_id") == cid)
    emb = eng.t["embeddings"].read().join(
        docs.select("document_id"), "document_id", "left_semi"
    )
    assert {r["centroid_id"] for r in emb.collect()} <= cent_ids
    # search still works after refresh
    assert eng.search("acme", "wiki", "plans", nprobe=-1).count() >= 1


@pytest.mark.slow
def test_refresh_all_sweeps_every_category(spark, tmp_path):
    """server/centroids.go:17-83: the boot-time sweep rebuilds the index
    of every (owner, category); each is then searchable with
    nprobe=all ≡ brute force over its own scope."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    for owner, cat, texts in [
        ("o1", "news", ["alpha beta gamma", "delta epsilon"]),
        ("o1", "docs", ["spark plans shuffle"]),
        ("o2", "news", ["tenant two text"]),
    ]:
        eng.upload(
            owner,
            cat,
            [
                {"name": f"d{i}", "external_id": str(i), "document": _json.dumps(t)}
                for i, t in enumerate(texts)
            ],
        )
    counts = eng.refresh_all(max_leaf=2)
    assert set(counts) == {("o1", "news"), ("o1", "docs"), ("o2", "news")}
    assert all(n >= 1 for n in counts.values())
    for owner, cat in counts:
        assert eng.search(owner, cat, "text", nprobe=-1).count() >= 1


def test_delete_document_tenant_scoped(engine):
    """server/delete.go:252-279: delete resolves (owner, category) ->
    category_id and deletes only the document that BELONGS to it — a
    caller naming another tenant's scope (or a bogus scope) must leave
    the document untouched."""
    eng, ids = engine
    # wrong tenant / wrong category / unknown owner: all silent no-ops
    eng.delete_document("other", "wiki", ids[2])
    eng.delete_document("acme", "blog", ids[2])
    eng.delete_document("nobody", "wiki", ids[2])
    docs = eng.t["documents"].read()
    assert docs.filter(F.col("document_id") == ids[2]).count() == 1
    assert eng.t["embeddings"].read().filter(
        F.col("document_id") == ids[2]
    ).count() >= 1


def test_delete_document_cascades(engine):
    eng, ids = engine
    eng.delete_document("acme", "wiki", ids[2])
    docs = eng.t["documents"].read()
    assert docs.filter(F.col("document_id") == ids[2]).count() == 0
    emb = eng.t["embeddings"].read()
    assert emb.filter(F.col("document_id") == ids[2]).count() == 0


def test_delete_category_and_owner_cascade(engine):
    eng, _ = engine
    eng.delete_category("acme", "blog")
    assert eng.fetch_category_names("acme") == ["wiki"]
    eng.delete_owner("other")
    assert eng.fetch_category_names("other") == []
    # other tenant's data fully gone, acme's wiki intact
    assert eng.t["owners"].read().filter(F.col("name") == "other").count() == 0
    assert eng.search("acme", "wiki", "spark", nprobe=-1).count() >= 1


def test_embeddings_store_is_quantized(engine):
    """The managed embeddings table must hold codes+range, never float
    vectors (the reference quantizes at decode and stores only bytes,
    ai/aicomms/embed.go:42-50 + compute/quantization.go:71-80)."""
    eng, _ = engine
    emb = eng.t["embeddings"].read()
    assert {"codes", "lo", "hi"} <= set(emb.columns)
    assert "vector" not in emb.columns
    row = emb.head()
    assert all(0 <= c <= 255 for c in row["codes"])
    assert row["lo"] <= 0.0 <= row["hi"]


def test_assign_embedding_ids_no_global_sort(spark):
    """Bulk-ingest id assignment must not funnel the batch through a
    single-partition Window sort; ids are unique and deterministic."""
    from go_vectorsearch_spark.api import assign_embedding_ids

    chunks = spark.createDataFrame(
        [(100 + d, c) for d in range(50) for c in range((d % 3) + 1)],
        "doc_id long, chunk_idx int",
    )
    out = assign_embedding_ids(chunks, base_emb=7, base_doc=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan
    ids = [r["embedding_id"] for r in out.collect()]
    assert len(ids) == len(set(ids))  # unique
    again = [r["embedding_id"] for r in assign_embedding_ids(chunks, 7, 100).collect()]
    assert sorted(ids) == sorted(again)  # deterministic
    assert min(ids) == 7  # first doc, first chunk


def test_cascade_and_refresh_plans_no_doc_broadcast_hint(engine, monkeypatch):
    """Delete/refresh must not broadcast-HINT documents-derived frames
    (their size is unbounded at the design point — round-2 verdict #1/#2).
    The analyzed logical plan records every user hint as ResolvedHint;
    only the tiny victim category-ID frame may carry one. Asserted on
    the frames a real category cascade commits."""
    from go_vectorsearch_spark.api import _VersionedTable

    eng, _ = engine
    eng.upload("acme", "doomed", [
        {"name": "D", "external_id": "d", "document": json.dumps("doomed text")},
    ])
    written = {}
    orig = _VersionedTable.replace_partitions

    def spy(self, df, remove_values, keep_versions=2):
        written[self.name] = df._jdf.queryExecution().analyzed().toString()
        return orig(self, df, remove_values, keep_versions)

    monkeypatch.setattr(_VersionedTable, "replace_partitions", spy)
    eng.delete_category("acme", "doomed")
    assert eng._category_id("acme", "doomed") is None
    assert set(written) == {"embeddings", "documents"}
    for name, plan in written.items():
        # at most ONE hint in the whole tree, on the 1-column
        # category-id projection, never on a document-id projection
        assert plan.count("ResolvedHint") <= 1, name
        if "ResolvedHint" in plan:
            hinted_tail = plan.split("ResolvedHint", 1)[1]
            first_project = hinted_tail.split("Project", 1)[1][:80]
            assert "category_id" in first_project, name
            assert "document_id" not in first_project, name
    cid = eng._category_id("acme", "wiki")
    scoped_plan = (
        eng._refresh_scope(cid)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in scoped_plan


def test_driver_collect_threshold_derivation():
    """neardup_components' driver fast-path budget scales with the
    configured driver heap instead of assuming 24 GB."""
    from go_vectorsearch_spark.operators.dedup import _driver_collect_threshold

    class _Conf:
        def __init__(self, mem):
            self._mem = mem

        def get(self, key, default=None):
            return self._mem if self._mem is not None else default

    class _S:
        def __init__(self, mem):
            self.conf = _Conf(mem)

    assert _driver_collect_threshold(_S("24g")) == 5_000_000  # clamp top
    t2 = _driver_collect_threshold(_S("2g"))
    assert 200_000 < t2 < 600_000  # ~430k: slim driver -> distributed path
    assert _driver_collect_threshold(_S("512m")) >= 100_000  # clamp bottom
    assert _driver_collect_threshold(_S(None)) >= 100_000  # unset conf
    assert _driver_collect_threshold(_S("weird")) >= 100_000  # unparsable


def test_versioned_table_vacuum(spark, tmp_path):
    """Copy-on-write versions are vacuumed to the keep-window: after N
    writes only the most recent `keep_versions` dirs remain, and the
    current pointer always resolves."""
    import os

    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path), "tv", "id long, x string")
    for i in range(5):
        t.write(spark.createDataFrame([(i, f"v{i}")], "id long, x string"))
    dirs = sorted(d for d in os.listdir(t.dir) if d.startswith("v") and d != "VERSION")
    assert dirs == ["v3.json", "v4.json"]
    assert [tuple(r) for r in t.read().collect()] == [(4, "v4")]


def test_versioned_table_time_travel(spark, tmp_path):
    """read(version=N) returns the historical snapshot while it is
    inside the vacuum keep-window, and raises KeyError (never a silent
    different snapshot) once vacuumed."""
    import pytest

    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path), "tt", "id long, x string")
    for i in range(3):
        t.write(spark.createDataFrame([(i, f"v{i}")], "id long, x string"))
    assert t.versions() == [1, 2]
    assert [tuple(r) for r in t.read(version=1).collect()] == [(1, "v1")]
    assert [tuple(r) for r in t.read().collect()] == [(2, "v2")]
    with pytest.raises(KeyError):
        t.read(version=0)  # vacuumed
    with pytest.raises(KeyError):
        t.read(version=99)  # never existed


def test_versioned_table_changes_keyless(spark, tmp_path):
    """Keyless change feed: pure set-diff insert/delete tagging."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path), "cdf0", "id long, x string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], t.schema))
    t.write(spark.createDataFrame([(2, "b"), (3, "c")], t.schema))
    feed = {(r["id"], r["_change_type"]) for r in t.changes(0, 1).collect()}
    assert feed == {(3, "insert"), (1, "delete")}


def test_versioned_table_changes_keyed_updates(spark, tmp_path):
    """With a key, an in-place mutation surfaces as an
    update_preimage/update_postimage pair, not delete+insert."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path), "cdf1", "id long, x string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], t.schema))
    t.write(spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], t.schema))
    rows = t.changes(0, 1, key="id").collect()
    feed = {(r["id"], r["_change_type"], r["x"]) for r in rows}
    assert feed == {
        (1, "delete", "a"),
        (3, "insert", "c"),
        (2, "update_preimage", "b"),
        (2, "update_postimage", "B"),
    }
    # unchanged rows never appear in the feed
    assert all(r["id"] != 4 for r in rows)


def test_search_metadata_cached_and_invalidated(spark, tmp_path, monkeypatch):
    """M2 parity (cache/middleware.go:18-163): repeat searches resolve
    owner/category/centroids from the TTL cache — ZERO storage reads of
    the metadata tables — and any mutation invalidates, so the next
    search sees fresh metadata."""
    import collections
    import json as _json

    from go_vectorsearch_spark.api import Engine, _VersionedTable

    eng = Engine(spark, str(tmp_path), cache_ttl_s=300.0)
    eng.upload(
        "o", "c", [{"name": "d", "external_id": "x", "document": _json.dumps({"a": "first words"})}]
    )

    calls = collections.Counter()

    def counting(orig):
        def read(self, *a, **k):
            calls[self.name] += 1
            return orig(self, *a, **k)

        return read

    # a store read is a Spark read or a driver-side pyarrow read
    for name in ("read", "_arrow_dataset"):
        monkeypatch.setattr(_VersionedTable, name, counting(getattr(_VersionedTable, name)))
    eng.search("o", "c", "words", nprobe=-1).collect()
    warm = dict(calls)
    assert warm.get("centroids", 0) >= 1  # first search loads metadata
    calls.clear()
    eng.search("o", "c", "words", nprobe=-1).collect()
    # repeat search: metadata entirely from cache
    assert calls.get("owners", 0) == 0
    assert calls.get("categories", 0) == 0
    assert calls.get("centroids", 0) == 0
    assert calls.get("embeddings", 0) >= 1  # the probed scan still runs

    # invalidation: a mutation clears the cache and search sees new data
    eng.upload(
        "o", "c", [{"name": "d2", "external_id": "y", "document": _json.dumps({"a": "second words"})}]
    )
    calls.clear()
    res = eng.search("o", "c", "words", count=5, nprobe=-1).collect()
    assert calls.get("centroids", 0) >= 1  # reloaded after invalidation
    assert len(res) == 2  # both documents visible


def test_ttl_cache_singleflight():
    """Concurrent loads of one key collapse onto a single loader call
    (the reference's singleflight.Group)."""
    import threading as _th
    import time as _time

    from go_vectorsearch_spark.api import _TTLCache

    cache = _TTLCache(ttl_s=60.0)
    loads = []

    def loader():
        loads.append(1)
        _time.sleep(0.2)
        return "v"

    results = []
    threads = [
        _th.Thread(target=lambda: results.append(cache.get("k", loader)))
        for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results == ["v"] * 8
    assert len(loads) == 1
    # None results are never cached (reference caches only successes)
    misses = []
    cache.get("absent", lambda: misses.append(1))
    cache.get("absent", lambda: misses.append(1))
    assert len(misses) == 2


def test_mutations_are_partition_scoped(spark, tmp_path):
    """The 100 TB write path: an upload APPENDS (no existing directory
    is rewritten — every prior manifest entry carried over verbatim),
    and a one-document delete rewrites ONLY the document's hash bucket
    and the centroid lists its chunks lived in; all other partitions
    keep the exact same immutable data directories."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    docs = [
        {
            "name": f"d{i}",
            "external_id": f"x{i}",
            "document": _json.dumps({"body": f"text number {i} " * (i + 1)}),
        }
        for i in range(8)
    ]
    ids = eng.upload("o", "c", docs)

    def parts(table):
        t = eng.t[table]
        return t._manifest(t._version())

    docs_v1, emb_v1 = parts("documents"), parts("embeddings")

    # second upload: pure append — every v1 directory survives verbatim
    eng.upload("o", "c", [{"name": "d9", "external_id": "x9", "document": '"more"'}])
    docs_v2, emb_v2 = parts("documents"), parts("embeddings")
    for key, dirs in docs_v1.items():
        assert set(dirs) <= set(docs_v2[key])
    for key, dirs in emb_v1.items():
        assert set(dirs) <= set(emb_v2[key])

    # delete one document: only its bucket + its centroid lists change
    victim = ids[3]
    victim_cents = {
        str(r[0])
        for r in eng.t["embeddings"]
        .read()
        .filter(F.col("document_id") == victim)
        .select("centroid_id")
        .distinct()
        .collect()
    }
    eng.delete_document("o", "c", victim)
    docs_v3, emb_v3 = parts("documents"), parts("embeddings")
    from go_vectorsearch_spark.api import N_DOC_BUCKETS

    victim_bucket = str(victim % N_DOC_BUCKETS)
    for key in docs_v2:
        if key != victim_bucket:
            assert docs_v3[key] == docs_v2[key], f"untouched bucket {key} rewritten"
    assert docs_v3.get(victim_bucket, []) != docs_v2[victim_bucket]
    for key in emb_v2:
        if key not in victim_cents:
            assert emb_v3[key] == emb_v2[key], f"untouched list {key} rewritten"
    # correctness after the scoped rewrite
    assert (
        eng.t["documents"].read().filter(F.col("document_id") == victim).count() == 0
    )
    assert (
        eng.t["embeddings"].read().filter(F.col("document_id") == victim).count() == 0
    )
    assert eng.t["documents"].read().count() == 8  # 9 uploaded - 1 deleted


def test_versioned_table_upsert_keyed_merge(spark, tmp_path):
    """MERGE by key on a partitioned table: existing keys replaced, new
    keys inserted, untouched partitions carried by reference — and a
    row that MOVES partitions (its partition column changed) leaves no
    stale twin behind."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path), "up", "id long, part long, x string",
        partition_expr="part",
    )
    t.write(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 2, "d")], t.schema
        )
    )
    parts_before = t._manifest(t._version())
    # replace id=1 in place, MOVE id=3 from part 1 to part 0, insert id=9
    t.upsert(
        spark.createDataFrame([(1, 0, "A"), (3, 0, "C"), (9, 0, "new")], t.schema),
        key="id",
    )
    rows = {r["id"]: (r["part"], r["x"]) for r in t.read().collect()}
    assert rows == {1: (0, "A"), 2: (0, "b"), 3: (0, "C"), 4: (2, "d"), 9: (0, "new")}
    parts_after = t._manifest(t._version())
    assert parts_after["2"] == parts_before["2"]  # untouched partition
    assert "1" not in parts_after or t.read(
        partition_values=[1]
    ).count() == 0  # moved row's old partition emptied
    # keyed change feed sees the in-place replacement as an update pair
    feed = {
        (r["id"], r["_change_type"])
        for r in t.changes(0, 1, key="id").collect()
    }
    assert (1, "update_preimage") in feed and (1, "update_postimage") in feed
    assert (9, "insert") in feed


def test_versioned_table_upsert_unpartitioned(spark, tmp_path):
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path), "upu", "id long, x string")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], t.schema))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], t.schema), key="id")
    assert {tuple(r) for r in t.read().collect()} == {(1, "a"), (2, "B"), (3, "c")}


def test_key_routed_replace_rows_reads_only_the_keys_partitions(
    spark, tmp_path, monkeypatch
):
    """When the partition expression reads the key alone (the documents'
    id buckets), upsert and replace_rows take the keys' own partitions:
    the table is read only pruned to them, and every other partition
    carries over by reference."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path), "kr", "id long, x string",
        partition_expr="pmod(id, 4)",
    )
    t.write(spark.createDataFrame([(i, f"v{i}") for i in range(8)], t.schema))
    reads = []
    read = t.read

    def spy(*args, **kwargs):
        reads.append(kwargs)
        return read(*args, **kwargs)

    monkeypatch.setattr(t, "read", spy)
    before = t._manifest(t._version())
    # replace id 1, insert id 9 (both bucket 1)
    t.upsert(spark.createDataFrame([(1, "A"), (9, "new")], t.schema), key="id")
    after = t._manifest(t._version())
    assert {k for k in before if after[k] != before[k]} == {"1"}
    # remove id 6 and an absent id 10 (bucket 2)
    t.replace_rows("id", spark.createDataFrame([(6,), (10,)], "id long"))
    assert reads and all(kw.get("partition_values") is not None for kw in reads)
    assert {tuple(r) for r in read().collect()} == {
        (0, "v0"), (1, "A"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5"),
        (7, "v7"), (9, "new"),
    }


def test_vacuum_age_guard_protects_young_data(spark, tmp_path):
    """With vacuum_min_age_s > 0, data directories that fell out of the
    manifest keep-window survive until they age out — an in-flight
    reader holding a resolved snapshot keeps its files."""
    import os

    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path), "ag", "id long, x string", vacuum_min_age_s=3600.0
    )
    for i in range(4):
        t.write(spark.createDataFrame([(i, f"v{i}")], t.schema), keep_versions=2)
    # manifests beyond the keep-window are gone (count-only window)...
    assert t.versions() == [2, 3]
    # ...but every data batch is younger than the age guard: all survive
    data = sorted(os.listdir(os.path.join(t.dir, "_data")))
    assert data == ["w0", "w1", "w2", "w3"]
    # age-expired path: a zero-grace table drops unreferenced batches
    t0 = _VersionedTable(spark, str(tmp_path), "ag0", "id long, x string")
    for i in range(4):
        t0.write(spark.createDataFrame([(i, f"v{i}")], t0.schema), keep_versions=2)
    data0 = sorted(os.listdir(os.path.join(t0.dir, "_data")))
    assert data0 == ["w2", "w3"]


def test_compact_collapses_fragmented_partitions(spark, tmp_path):
    """Repeated uploads leave a directory per batch per touched
    partition; compact() collapses each fragmented partition to one
    directory without changing the data, and leaves already-compact
    partitions' directories untouched (carried by reference)."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    for i in range(3):  # 3 uploads -> up to 3 dirs per touched partition
        eng.upload(
            "o",
            "c",
            [
                {
                    "name": f"d{i}",
                    "external_id": str(i),
                    "document": _json.dumps({"t": f"body text {i}"}),
                }
            ],
        )
    t = eng.t["embeddings"]
    before_rows = sorted(tuple(r) for r in t.read().collect())
    parts_before = t._manifest(t._version())
    assert any(len(d) >= 2 for d in parts_before.values())  # fragmented

    compacted = eng.compact(min_dirs=2)
    assert compacted["embeddings"]  # something was compacted
    parts_after = t._manifest(t._version())
    for key, dirs in parts_after.items():
        assert len(dirs) == 1, f"partition {key} still fragmented: {dirs}"
    for key, dirs in parts_before.items():
        if len(dirs) == 1:  # already compact: carried by reference
            assert parts_after[key] == dirs
    assert sorted(tuple(r) for r in t.read().collect()) == before_rows
    # idempotent: nothing left to compact
    assert eng.t["embeddings"].compact(min_dirs=2) == []


def test_engine_table_changes_after_delete(spark, tmp_path):
    """End-to-end CDF: a document delete shows up as delete rows in the
    documents table's change feed between the surrounding versions."""
    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    ids = eng.upload(
        "o1",
        "c1",
        [
            {"name": "d1", "external_id": "x1", "document": '{"t": "alpha"}'},
            {"name": "d2", "external_id": "x2", "document": '{"t": "beta"}'},
        ],
    )
    v_before = eng.t["documents"].versions()[-1]
    eng.delete_document("o1", "c1", ids[0])
    v_after = eng.t["documents"].versions()[-1]
    feed = eng.table_changes("documents", v_before, v_after).collect()
    assert {(r["document_id"], r["_change_type"]) for r in feed} == {
        (ids[0], "delete")
    }


@pytest.mark.slow
def test_delete_documents_bulk_single_rewrite(spark, tmp_path):
    """Bulk delete: every touched partition rewritten ONCE for the
    whole batch (per-id deletes would rewrite shared buckets N times),
    unknown/foreign ids skipped, text index tombstoned in one commit,
    and the result equals per-id deletes."""
    import json as _json
    import os

    from go_vectorsearch_spark.api import Engine
    from go_vectorsearch_spark.operators.fulltext import read_postings

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"D{i}", "external_id": f"d{i}",
         "document": _json.dumps({"body": f"bulk delete test doc {i}"})}
        for i in range(10)
    ]
    ids = eng.upload("acme", "wiki", docs)
    eng.upload("other", "wiki", [docs[0]])
    eng.build_text_index("acme", "wiki")

    victims = [ids[1], ids[4], ids[7]]
    # count document-table data dirs before/after: one batch delete
    # commits ONE new version regardless of victim count
    v_before = eng.t["documents"]._version()
    n = eng.delete_documents(
        "acme", "wiki", victims + [999_999]  # unknown id skipped
    )
    assert n == 3
    assert eng.t["documents"]._version() == v_before + 1

    live = {
        r["document_id"]
        for r in eng.t["documents"].read()
        .filter(F.col("category_id") == eng._category_id("acme", "wiki"))
        .select("document_id").collect()
    }
    assert live == set(ids) - set(victims)
    emb_docs = {
        r["document_id"]
        for r in eng.t["embeddings"].read().select("document_id").collect()
    }
    assert not (set(victims) & emb_docs)

    # one tombstone commit covering the whole batch, stats exact
    cid = eng._category_id("acme", "wiki")
    idx, _ = read_postings(spark, eng._text_index_path(cid))
    assert idx.n_docs == 7
    eng.build_text_index("acme", "wiki")
    fresh, _ = read_postings(spark, eng._text_index_path(cid))
    assert (idx.n_docs, idx.sum_dl) == (fresh.n_docs, fresh.sum_dl)

    # other tenant untouched
    assert eng.t["documents"].read().filter(
        F.col("category_id") == eng._category_id("other", "wiki")
    ).count() == 1

    # empty/foreign-only calls are no-ops returning 0
    assert eng.delete_documents("acme", "wiki", []) == 0
    assert eng.delete_documents("ghost", "wiki", [ids[0]]) == 0


def test_search_where_prefilters_probed_scan(spark, tmp_path):
    """Engine.search(where=) is a PRE-filter: the page holds count
    matching docs when that many exist, equals the unfiltered ranking
    restricted to matches, and an all-excluding predicate is empty."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"{'keep' if i % 2 else 'drop'}-{i}", "external_id": f"s{i}",
         "document": _json.dumps({"body": f"filtered search doc {i}"})}
        for i in range(8)
    ]
    ids = eng.upload("acme", "wiki", docs)
    keep = {ids[i] for i in range(8) if i % 2}
    pred = F.col("name").startswith("keep")

    page = eng.search("acme", "wiki", "filtered search", count=4,
                      nprobe=-1, where=pred).collect()
    assert len(page) == 4
    assert {r["document_id"] for r in page} == keep

    # pre-filter ≡ unfiltered ranking restricted to matching docs
    full = eng.search("acme", "wiki", "filtered search", count=8,
                      nprobe=-1).collect()
    want = [r["document_id"] for r in full if r["document_id"] in keep]
    assert [r["document_id"] for r in page] == want

    assert eng.search("acme", "wiki", "x", count=4, nprobe=-1,
                      where=F.col("name") == "nope").collect() == []


@pytest.mark.slow
def test_search_where_adaptive_probe_widening(spark, tmp_path):
    """With a predicate and a thin initial probe set, the engine widens
    nprobe (doubling, ivf_search_adaptive contract) until the page
    fills — a filtered nprobe=1 search returns the same full page as
    nprobe=all, instead of underfilling because the matches sat in
    unprobed lists. Unfiltered searches keep the reference's fixed
    nprobe."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"{'keep' if i % 4 == 0 else 'drop'}-{i}", "external_id": f"a{i}",
         "document": _json.dumps({"body": f"widening test document {i} "
                                          f"{'alpha' if i < 20 else 'omega'}"})}
        for i in range(40)
    ]
    ids = eng.upload("acme", "wiki", docs)
    # several small centroids so nprobe=1 genuinely prunes
    n_cent = eng.refresh_index("acme", "wiki", max_leaf=8)
    assert n_cent > 1
    pred = F.col("name").startswith("keep")
    keep = {ids[i] for i in range(40) if i % 4 == 0}

    narrow = eng.search("acme", "wiki", "widening test", count=10,
                        nprobe=1, where=pred).collect()
    wide = eng.search("acme", "wiki", "widening test", count=10,
                      nprobe=-1, where=pred).collect()
    assert len(narrow) == len(wide) == len(keep)
    assert [r["document_id"] for r in narrow] == [r["document_id"] for r in wide]
    assert {r["document_id"] for r in narrow} == keep

    # hybrid leg widens too: filtered hybrid at nprobe=1 ≡ nprobe=all
    eng.build_text_index("acme", "wiki")
    h1 = [r["document_id"] for r in eng.search_hybrid(
        "acme", "wiki", "widening test", count=10, nprobe=1, where=pred).collect()]
    hall = [r["document_id"] for r in eng.search_hybrid(
        "acme", "wiki", "widening test", count=10, nprobe=-1, where=pred).collect()]
    assert h1 == hall and set(h1) == keep


@pytest.mark.slow
def test_search_many_matches_per_query_search(spark, tmp_path):
    """Batched search: each query's page in search_many equals the
    per-query Engine.search result exactly (same probe ranking, dedup,
    order), at both nprobe=1 and nprobe=all on a multi-centroid index;
    empty-text and unknown-category degenerate cases are empty."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"D{i}", "external_id": f"m{i}",
         "document": _json.dumps({"body": f"batched search doc {i} "
                                          f"{'alpha' if i < 15 else 'beta'}"})}
        for i in range(30)
    ]
    eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=8) > 1

    texts = ["alpha doc", "beta doc", "batched search"]
    for nprobe in (1, -1):
        out = eng.search_many("acme", "wiki", texts, count=5, nprobe=nprobe)
        by_q: dict[int, list] = {}
        for r in out.collect():
            by_q.setdefault(r["q_ix"], []).append(r)
        for ix, t in enumerate(texts):
            single = eng.search("acme", "wiki", t, count=5, nprobe=nprobe).collect()
            got = by_q.get(ix, [])
            assert [r["document_id"] for r in got] == [
                r["document_id"] for r in single
            ], f"q{ix} nprobe={nprobe} diverged"
            for g, s in zip(got, single):
                assert g["score"] == pytest.approx(s["score"])
                assert g["name"] == s["name"]

    assert eng.search_many("acme", "wiki", [], count=5).count() == 0
    assert eng.search_many("ghost", "wiki", ["x"], count=5).count() == 0


def test_search_many_where_prefilters(spark, tmp_path):
    """search_many(where=) pre-filters the probed scan: per-query pages
    equal the filtered per-query search at nprobe=all."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"{'keep' if i % 2 else 'drop'}-{i}", "external_id": f"w{i}",
         "document": _json.dumps({"body": f"many filtered doc {i}"})}
        for i in range(10)
    ]
    ids = eng.upload("acme", "wiki", docs)
    keep = {ids[i] for i in range(10) if i % 2}
    pred = F.col("name").startswith("keep")

    texts = ["many filtered", "doc"]
    out = eng.search_many("acme", "wiki", texts, count=5, nprobe=-1, where=pred)
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r["q_ix"], []).append(r["document_id"])
    for ix, t in enumerate(texts):
        single = [r["document_id"] for r in eng.search(
            "acme", "wiki", t, count=5, nprobe=-1, where=pred).collect()]
        assert by_q.get(ix, []) == single
        assert set(by_q.get(ix, [])) <= keep


@pytest.mark.slow
def test_search_many_where_adaptive_probe_widening(spark, tmp_path):
    """The batch form widens probes per underfilled query exactly like
    the single form: filtered search_many at nprobe=1 returns the SAME
    full pages as the per-query search(where=) at nprobe=1 (which
    widens) — the r5 contrast case where the first probe underfills
    because the matches sit in unprobed lists. Pre-r6 the batch form
    returned short pages here unless the caller knew to pass
    nprobe=-1."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"{'keep' if i % 4 == 0 else 'drop'}-{i}", "external_id": f"b{i}",
         "document": _json.dumps({"body": f"widening test document {i} "
                                          f"{'alpha' if i < 20 else 'omega'}"})}
        for i in range(40)
    ]
    ids = eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=8) > 1
    pred = F.col("name").startswith("keep")
    keep = {ids[i] for i in range(40) if i % 4 == 0}

    texts = ["widening test alpha", "widening test omega"]
    out = eng.search_many("acme", "wiki", texts, count=10, nprobe=1, where=pred)
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r["q_ix"], []).append(r["document_id"])
    for ix, t in enumerate(texts):
        single = [r["document_id"] for r in eng.search(
            "acme", "wiki", t, count=10, nprobe=1, where=pred).collect()]
        assert by_q.get(ix, []) == single, f"q{ix} diverged from single form"
        assert set(by_q.get(ix, [])) == keep  # every existing match found


@pytest.mark.slow
def test_refresh_index_incremental(spark, tmp_path):
    """Incremental IVF maintenance touches only the changed centroids:

    (a) a balanced index is a strict no-op (no embeddings commit);
    (b) shrinking max_leaf splits every oversized leaf locally — leaf
        bounds match a full rebuild's, every vector lands in a live
        centroid's partition, untouched partitions carry by reference;
    (c) deleting a leaf's members drops the empty centroid;
    (d) small leaves dissolve into survivors (count preserved);
    (e) a drifted centroid re-centers with NO embeddings commit."""
    import json as _json

    from pyspark.sql import functions as F

    from go_vectorsearch_spark.api import Engine, dequantized_vector

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"I{i}", "external_id": f"i{i}",
         "document": _json.dumps({"body": f"incremental refresh doc {i} "
                                          f"{'alpha' if i < 20 else 'omega'}"})}
        for i in range(40)
    ]
    ids = eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=50) >= 1
    cid = eng._category_id("acme", "wiki")
    emb_t, cent_t = eng.t["embeddings"], eng.t["centroids"]

    def leaf_sizes() -> dict[int, int]:
        live = {
            r["centroid_id"]
            for r in cent_t.read().filter(F.col("category_id") == cid).collect()
        }
        out = {
            r["centroid_id"]: r["n"]
            for r in emb_t.read()
            .filter(F.col("centroid_id").isin(list(live)))
            .groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
        }
        return out, live

    # (a) balanced: strict no-op, not even a new table version
    v0 = emb_t._version()
    r = eng.refresh_index_incremental("acme", "wiki", max_leaf=50)
    assert (r["split"], r["dropped"], r["recentered"]) == ([], [], [])
    assert emb_t._version() == v0

    # (b) shrink max_leaf: every oversized leaf splits locally
    m_before = dict(emb_t._manifest(emb_t._version()))
    r = eng.refresh_index_incremental("acme", "wiki", max_leaf=8)
    assert r["split"], "expected oversized leaves to split"
    sizes, live = leaf_sizes()
    assert sum(sizes.values()) == 40          # no vector lost
    assert set(sizes) <= live                  # every row in a live centroid
    assert max(sizes.values()) <= 8            # full-rebuild leaf bound
    m_after = dict(emb_t._manifest(emb_t._version()))
    for key in set(m_before) & set(m_after):
        # a partition present on both sides either carried verbatim or
        # (a dissolve receiver) kept its old dirs as a prefix
        assert m_after[key][: len(m_before[key])] == m_before[key]
    for c in r["split"]:
        assert str(c) not in m_after           # split sources removed
    # partition key == centroid_id for every row (manifest-pruned reads
    # stay correct)
    for c in sorted(sizes):
        part = emb_t.read(partition_values=[c])
        assert part.filter(F.col("centroid_id") != c).count() == 0

    # (c) empty a leaf by deleting its documents -> centroid dropped
    sizes, live = leaf_sizes()
    victim_cent = min(sizes, key=lambda c: (sizes[c], c))
    victim_docs = [
        r["document_id"]
        for r in emb_t.read(partition_values=[victim_cent])
        .select("document_id").distinct().collect()
    ]
    eng.delete_documents("acme", "wiki", victim_docs)
    sizes2, live2 = leaf_sizes()
    if victim_cent not in sizes2:              # fully emptied
        r = eng.refresh_index_incremental("acme", "wiki", max_leaf=8)
        assert victim_cent in r["dropped"]
        _, live3 = leaf_sizes()
        assert victim_cent not in live3

    # (d) small leaves dissolve into survivors, count preserved
    total_before = emb_t.read().filter(
        F.col("centroid_id").isin(list(leaf_sizes()[1]))
    ).count()
    r = eng.refresh_index_incremental("acme", "wiki", max_leaf=40)
    sizes3, live3 = leaf_sizes()
    assert sum(sizes3.values()) == total_before
    min_leaf = 40 // 10
    assert all(n >= min_leaf for n in sizes3.values()) or not r["dropped"]

    # (e) drift: perturb a stored centroid vector, re-center in place
    sizes3, live3 = leaf_sizes()
    drift_cent = max(sizes3, key=lambda c: (sizes3[c], c))
    cents_df = cent_t.read()
    perturbed = cents_df.withColumn(
        "vector",
        F.when(
            F.col("centroid_id") == drift_cent,
            F.transform(F.col("vector"), lambda x: (x * 0.5 + F.lit(0.3)).cast("float")),
        ).otherwise(F.col("vector")),
    )
    cent_t.write(perturbed)
    eng._invalidate_cache()
    v_emb = emb_t._version()
    r = eng.refresh_index_incremental("acme", "wiki", max_leaf=40,
                                      drift_threshold=1e-4)
    assert drift_cent in r["recentered"]
    assert emb_t._version() == v_emb           # no embeddings commit
    # the re-centered vector is the member mean (f32 storage precision)
    stored = {
        r2["centroid_id"]: list(r2["vector"])
        for r2 in cent_t.read().filter(F.col("category_id") == cid).collect()
    }[drift_cent]
    mean = (
        dequantized_vector(emb_t.read(partition_values=[drift_cent]))
        .select(F.posexplode("vector").alias("pos", "val"))
        .groupBy("pos").agg(F.avg("val").alias("m"))
        .orderBy("pos").collect()
    )
    for s, m in zip(stored, [r2["m"] for r2 in mean]):
        assert abs(s - m) < 1e-4


@pytest.mark.slow
def test_refresh_index_incremental_self_heals_crash_windows(spark, tmp_path):
    """The incremental refresh's commit order (append new centroids ->
    move embeddings -> final centroids rewrite) promises every crash
    window re-runs to a consistent state. Simulate the first window —
    new sub-centroid rows appended but the embeddings move lost — by
    appending centroid rows with NO partitions: the next incremental
    classifies them EMPTY, drops them, and the index keeps serving the
    same results; refresh_all(incremental=True) sweeps categories."""
    import json as _json

    from go_vectorsearch_spark.api import Engine, _SCHEMAS

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"H{i}", "external_id": f"h{i}",
         "document": _json.dumps({"body": f"heal test doc {i}"})}
        for i in range(20)
    ]
    eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=8) >= 1
    cid = eng._category_id("acme", "wiki")
    before = {r["document_id"] for r in
              eng.search("acme", "wiki", "heal test", count=20, nprobe=-1).collect()}

    # crash window 1: appended centroid rows whose partitions never came
    ghost_base = eng._next_id("centroids", "centroid_id")
    eng.t["centroids"].append(
        spark.createDataFrame(
            [(ghost_base, cid, [0.5] * 8), (ghost_base + 1, cid, [0.25] * 8)],
            _SCHEMAS["centroids"],
        )
    )
    eng._invalidate_cache()
    r = eng.refresh_index_incremental("acme", "wiki", max_leaf=8)
    assert ghost_base in r["dropped"] and ghost_base + 1 in r["dropped"]
    live = {
        row["centroid_id"]
        for row in eng.t["centroids"].read().filter(
            F.col("category_id") == cid).collect()
    }
    assert not {ghost_base, ghost_base + 1} & live
    after = {r2["document_id"] for r2 in
             eng.search("acme", "wiki", "heal test", count=20, nprobe=-1).collect()}
    assert after == before  # no document lost or duplicated

    # the sweep form reaches every category
    swept = eng.refresh_all(incremental=True)
    assert swept[("acme", "wiki")] == len(
        eng.t["centroids"].read().filter(F.col("category_id") == cid).collect()
    )


@pytest.mark.slow
def test_search_many_offset_pagination(spark, tmp_path):
    """search_many(offset=) pages exactly like consecutive search()
    pages: page-2 of the batch equals page-2 of each single query, and
    offset composes with a where= predicate (widening target accounts
    for the skipped prefix)."""
    import json as _json

    from go_vectorsearch_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "root"))
    docs = [
        {"name": f"P{i}", "external_id": f"p{i}",
         "document": _json.dumps({"body": f"paginated batch doc {i}"})}
        for i in range(20)
    ]
    eng.upload("acme", "wiki", docs)
    assert eng.refresh_index("acme", "wiki", max_leaf=8) > 1

    texts = ["paginated batch", "doc"]
    out = eng.search_many(
        "acme", "wiki", texts, count=5, offset=5, nprobe=-1
    )
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r["q_ix"], []).append(r["document_id"])
    for ix, t in enumerate(texts):
        single = [r["document_id"] for r in eng.search(
            "acme", "wiki", t, count=5, offset=5, nprobe=-1).collect()]
        assert by_q.get(ix, []) == single, f"q{ix} page-2 diverged"

    # offset + where: predicate with fewer matches than offset+count
    pred = F.col("name").isin(["P1", "P2", "P3"])
    out2 = eng.search_many(
        "acme", "wiki", texts, count=5, offset=2, nprobe=1, where=pred
    )
    by_q2: dict[int, list] = {}
    for r in out2.collect():
        by_q2.setdefault(r["q_ix"], []).append(r["document_id"])
    for ix, t in enumerate(texts):
        single = [r["document_id"] for r in eng.search(
            "acme", "wiki", t, count=5, offset=2, nprobe=1, where=pred).collect()]
        assert by_q2.get(ix, []) == single

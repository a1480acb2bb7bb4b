"""Persist ownership (go_vectorsearch_spark/persist.py): every cache
entry the package creates has one owner that releases exactly it, on
every exit path. The Engine checks count the session's CacheManager
entries and persisted RDDs around each call; both must be unchanged."""

from __future__ import annotations

import json
import os

import pytest

from go_vectorsearch_spark import persist

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "go_vectorsearch_spark",
)


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _counts(spark) -> tuple[int, int]:
    """(CacheManager entries, persisted RDDs)."""
    return _cache_entries(spark), spark.sparkContext._jsc.getPersistentRDDs().size()


def test_only_persist_module_persists():
    """Lint: no package module but persist.py calls persist, cache or
    unpersist, so every cache entry goes through one owner."""
    offenders = []
    for base, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(base, f)
            if f.endswith(".py") and path != os.path.join(PKG, "persist.py"):
                with open(path) as fh:
                    src = fh.read()
                if any(c in src for c in (".persist(", ".cache(", ".unpersist(")):
                    offenders.append(os.path.relpath(path, PKG))
    assert offenders == []


def test_scope_borrows_a_plan_equal_cached_frame(spark):
    """A caller's cached frame survives a callee scope that holds a
    plan-equal frame: ``b.persist(); b.unpersist()`` would evict it."""
    a = spark.range(50).selectExpr("id * 3 AS x").persist()
    a.count()
    try:
        with persist.Scope() as scope:
            b = scope.hold(spark.range(50).selectExpr("id * 3 AS x"))
            b.count()
            scope.release(b)
        assert persist.is_cached(a)
    finally:
        a.unpersist()


def test_scope_releases_what_it_owns_on_every_exit(spark):
    before = _cache_entries(spark)
    with pytest.raises(RuntimeError):
        with persist.Scope() as scope:
            scope.hold(spark.range(7).selectExpr("id + 1 AS y")).count()
            assert _cache_entries(spark) == before + 1
            raise RuntimeError("boom")
    assert _cache_entries(spark) == before


def test_hand_off_moves_ownership_to_the_adopting_scope(spark):
    before = _cache_entries(spark)
    with persist.Scope() as outer:
        with persist.Scope() as inner:
            df = inner.hand_off(inner.hold(spark.range(9).selectExpr("id AS z")))
        assert persist.is_cached(df)  # the callee's exit left it alone
        assert outer.adopt(df) is df
        lazy = spark.range(9).selectExpr("id + 5 AS w")
        outer.adopt(lazy)  # never handed off: not owned, not persisted
        assert not persist.is_cached(lazy)
    assert _cache_entries(spark) == before
    assert not persist.is_cached(df)


# -- the Engine: no call leaves a cache entry behind ---------------------------

SHARED = "alpha beta gamma delta epsilon zeta eta theta"
FOOTER = "subscribe to our newsletter for weekly updates"


def _docs(tag: str) -> list[dict]:
    bodies = [
        [f"{SHARED} {tag} one tail", FOOTER],
        [f"lead {tag} in {SHARED}", FOOTER],
        [f"{tag} nothing shared with anything", FOOTER],
        [f"{tag} another plain document body"],
    ]
    return [
        {"name": f"{tag}{i}", "external_id": f"{tag}{i}",
         "document": json.dumps(b)}
        for i, b in enumerate(bodies)
    ]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    """Category "c" carries every index; the cuts run on "f", which has
    none, so they skip the index maintenance they would otherwise time."""
    from go_vectorsearch_spark.api import Engine

    e = Engine(spark, str(tmp_path_factory.mktemp("persist_root")))
    return e, e.upload("o", "c", _docs("c"))


def _leaks(spark, calls) -> list[tuple[str, tuple[int, int]]]:
    """The calls whose run changed (CacheManager entries, persisted RDDs)."""
    out = []
    for name, call in calls:
        before = _counts(spark)
        call()
        after = _counts(spark)
        if after != before:
            out.append((name, (after[0] - before[0], after[1] - before[1])))
    return out


def test_engine_calls_leave_no_cache_entries(spark, eng):
    e, ids = eng
    calls = [
        ("upload (first of a category)", lambda: e.upload("o", "f", _docs("f"))),
        ("refresh_index", lambda: e.refresh_index("o", "c", max_leaf=2)),
        ("upload (indexed category)", lambda: e.upload("o", "c", _docs("u"))),
        ("delete_documents", lambda: e.delete_documents("o", "c", [ids[3]])),
        ("build_text_index", lambda: e.build_text_index("o", "c", n_buckets=2)),
        ("append_text_index", lambda: e.append_text_index("o", "c", ids[:1])),
        ("build_neardup_index", lambda: e.build_neardup_index("o", "c")),
        ("append_neardup_index", lambda: e.append_neardup_index("o", "c", ids[:1])),
        ("compact_neardup_index", lambda: e.compact_neardup_index("o", "c")),
        ("substr_dedup_report", lambda: e.substr_dedup_report("o", "c", L=4).collect()),
        ("decontaminate_report",
         lambda: e.decontaminate_report("o", "c", [SHARED], L=4).collect()),
        ("boilerplate_report", lambda: e.boilerplate_report("o", "c", min_df=2).collect()),
        ("neardup_pairs_report", lambda: e.neardup_pairs_report("o", "c").collect()),
        ("neardup_check", lambda: e.neardup_check("o", "c", [SHARED]).collect()),
        ("search", lambda: e.search("o", "c", SHARED).collect()),
        ("search_many", lambda: e.search_many("o", "c", [SHARED, FOOTER]).collect()),
        ("search_hybrid", lambda: e.search_hybrid("o", "c", SHARED).collect()),
        ("substr_dedup_cut iterate=1", lambda: e.substr_dedup_cut("o", "f", L=4)),
        ("substr_dedup_cut iterate=3",
         lambda: e.substr_dedup_cut("o", "f", L=4, iterate=3)),
        ("decontaminate_cut", lambda: e.decontaminate_cut("o", "f", [FOOTER], L=4)),
        ("boilerplate_cut", lambda: e.boilerplate_cut("o", "f", min_df=2)),
    ]
    assert _leaks(spark, calls) == []


def test_failed_engine_calls_leave_no_cache_entries(spark, eng, monkeypatch):
    e, _ids = eng

    def boom(*a, **k):
        raise RuntimeError("injected failure")

    def failing(name, call):
        def run():
            with pytest.raises(RuntimeError, match="injected"):
                call()
        return name, run

    monkeypatch.setattr(e.t["embeddings"], "_commit", boom)
    assert _leaks(spark, [failing("upload", lambda: e.upload("o", "c", _docs("x")))]) == []
    monkeypatch.undo()
    monkeypatch.setattr(e.t["documents"], "_commit", boom)
    assert _leaks(spark, [
        failing("substr_dedup_cut", lambda: e.substr_dedup_cut("o", "c", L=4, iterate=3)),
        failing("decontaminate_cut", lambda: e.decontaminate_cut("o", "c", [SHARED], L=4)),
    ]) == []


def test_registry_curate_entries_reach_a_steady_state(spark, sf_smoke):
    """Two passes over the benchmark's curate entries: the second adds
    no cache entry (session caches are held once, repeated fixpoint
    results borrow the first pass's entries)."""
    from go_vectorsearch_spark import queries as registry

    names = [
        "pipeline_curate_docs", "dedup_jaccard_pairs", "dedup_simhash_pairs",
        "substr_cut_docs", "decontaminate_cut_docs", "dedup_exact_stats",
        "line_dedup_docs",
    ]
    after = []
    for _ in range(2):
        for name in names:
            registry.REGISTRY[name].fn(spark, sf_smoke).toPandas()
        after.append(_cache_entries(spark))
    assert after[1] == after[0]

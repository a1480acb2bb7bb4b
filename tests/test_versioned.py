"""The versioned-store primitive (go_vectorsearch_spark/versioned.py)
and the two stores built on it: the engine's ``_VersionedTable`` and
the BM25 postings store.

Pinned here: a reader polling pointer + manifest during a stream of
commits never sees a torn file; a commit that dies between the manifest
and the pointer leaves both stores at their prior version and the next
commit reclaims the orphan; writers in two processes never lose a
read-modify-write; a current read whose manifest is vacuumed under it
re-resolves; and no module but versioned.py touches the pointer file.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import threading

import pytest

from go_vectorsearch_spark import versioned

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "go_vectorsearch_spark")


def _race(commit, resolve, n_commits: int) -> tuple[list[str], int]:
    """Commit ``n_commits`` versions in one thread while another thread
    resolves the current snapshot in a loop. Returns the reader's errors
    and its number of reads; ``resolve`` returns ``(v, manifest)``."""
    errors: list[str] = []
    reads = 0
    done = threading.Event()

    def reader():
        nonlocal reads
        last = -1
        while not done.is_set():
            try:
                v, m = resolve()
            except Exception as e:  # a torn pointer or manifest
                errors.append(f"{type(e).__name__}: {e}")
                continue
            reads += 1
            if v >= 0 and (m.get("n") != v or v < last):
                errors.append(f"v{v} resolved {m!r} after v{last}")
            last = max(last, v)

    t = threading.Thread(target=reader)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the two threads finely
    t.start()
    try:
        for v in range(n_commits):
            commit(v)
    finally:
        done.set()
        t.join(30)
        sys.setswitchinterval(switch)
    assert not t.is_alive()
    return errors, reads


def test_reader_never_sees_a_torn_pointer_or_manifest(tmp_path):
    """Temp file + fsync + os.replace for both files: across 2,000
    commits (each followed by a vacuum) every resolve is a complete
    pointer and a complete manifest of that version."""
    root = str(tmp_path / "store")
    pad = "x" * 4096  # a manifest larger than one write() of a short string

    def commit(v):
        with versioned.lock(root):
            versioned.commit(root, v, {"n": v, "pad": pad})
            versioned.vacuum(root, 8, "_data", lambda m: [])

    errors, reads = _race(commit, lambda: versioned.snapshot(root), 2000)
    assert errors == []
    assert reads > 0
    assert versioned.snapshot(root)[0] == 1999


def test_versioned_table_commits_through_the_primitive(tmp_path):
    """The same loop through a tiny ``_VersionedTable``: its pointer and
    manifests are the primitive's, so its readers see no torn files
    either. No Spark job runs (only the commit path is driven)."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(None, str(tmp_path), "tiny", "id long")

    def commit(v):
        with t._write_lock():
            assert t._version() + 1 == v
            t._commit(v, {"": [f"_data/w{v}"]}, keep=8)

    def resolve():
        v = t._version()
        if v < 0:
            return v, None
        return v, {"n": int(t._manifest(v)[""][0].rsplit("w", 1)[1])}

    errors, reads = _race(commit, resolve, 500)
    assert errors == []
    assert reads > 0
    assert os.path.isfile(os.path.join(t.dir, "v499.json"))
    assert t.versions() == list(range(492, 500))


def test_current_read_re_resolves_when_its_manifest_is_vacuumed(
    tmp_path, monkeypatch
):
    """Two commits and a vacuum land between a reader's pointer read
    and its manifest read: the reader re-resolves the pointer once and
    gets the newest snapshot. An explicit read of the vacuumed version
    still raises KeyError."""
    root = str(tmp_path / "store")
    with versioned.lock(root):
        versioned.commit(root, 0, {"n": 0})
    real = versioned.manifest
    calls = []

    def racing_manifest(r, v):
        calls.append(v)
        if len(calls) == 1:  # first read: supersede v twice and vacuum it
            with versioned.lock(root):
                for nv in (v + 1, v + 2):
                    versioned.commit(root, nv, {"n": nv})
                versioned.vacuum(root, 2, "_data", lambda m: [])
            del calls[1:]  # the vacuum's own manifest reads
        return real(r, v)

    monkeypatch.setattr(versioned, "manifest", racing_manifest)
    assert versioned.snapshot(root) == (2, {"n": 2})
    assert calls == [0, 2]
    monkeypatch.undo()
    with pytest.raises(KeyError):
        versioned.manifest(root, 0)
    assert versioned.versions(root) == [1, 2]


def _count_up(root: str, n: int) -> None:
    """Read-modify-write a counter manifest ``n`` times under the lock."""
    for _ in range(n):
        with versioned.lock(root):
            v, m = versioned.snapshot(root)
            versioned.commit(root, v + 1, {"count": (m["count"] if m else 0) + 1})


def test_writers_in_two_processes_lose_no_commit(tmp_path):
    """Two processes each make 200 read-modify-write commits of a
    counter: the flock serializes them, so the count is 400 and every
    version was committed exactly once."""
    root = str(tmp_path / "store")
    ctx = multiprocessing.get_context("spawn")
    procs = [ctx.Process(target=_count_up, args=(root, 200)) for _ in range(2)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
    assert [p.exitcode for p in procs] == [0, 0]
    assert versioned.snapshot(root) == (399, {"count": 400})


def test_lock_is_reentrant_per_thread_and_exclusive_across_threads(tmp_path):
    """A thread holding the lock can take it again (compaction calls the
    store's own write); another thread blocks until it is released."""
    root = str(tmp_path / "store")
    order = []

    def other():
        with versioned.lock(root):
            order.append("b")

    with versioned.lock(root):
        with versioned.lock(root):
            t = threading.Thread(target=other)
            t.start()
            t.join(0.3)
            assert t.is_alive()
            order.append("a")
    t.join(5)
    assert not t.is_alive()
    assert order == ["a", "b"]


def test_pointer_file_is_owned_by_versioned_only():
    """Lint: no package module but versioned.py names the pointer file,
    so no other code can open, write or probe it directly."""
    offenders = []
    for base, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(base, f)
            if f.endswith(".py") and path != os.path.join(PKG, "versioned.py"):
                with open(path) as fh:
                    if "VERSION" in fh.read():
                        offenders.append(os.path.relpath(path, PKG))
    assert offenders == []


def test_engine_row_rewrites_go_through_replace_rows():
    """Lint: in api.py, rows leave the Engine's partitioned tables only
    through ``_VersionedTable.replace_rows`` — no code outside the class
    calls ``overwrite_partitions``, and ``replace_partitions``' one
    outside caller is ``refresh_index_incremental``, whose moves drop
    whole partitions."""
    import ast

    with open(os.path.join(PKG, "api.py")) as fh:
        tree = ast.parse(fh.read())
    calls = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef)):
                inner = scope + (child.name,)
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("overwrite_partitions", "replace_partitions")
                and scope[:1] != ("_VersionedTable",)
            ):
                calls.append((child.func.attr, ".".join(scope)))
            visit(child, inner)

    visit(tree, ())
    assert calls == [("replace_partitions", "Engine.refresh_index_incremental")]


def test_legacy_manifest_names_get_a_rename_hint(tmp_path):
    """A table root written before manifests were named v{N}.json: a
    read names the legacy layout and the one-time rename instead of
    'version 1 not on disk (available: [])'; after the rename it reads."""
    root = str(tmp_path)
    with open(os.path.join(root, versioned.POINTER), "w") as f:
        f.write("1")
    for v in (0, 1):
        with open(os.path.join(root, f"v{v}"), "w") as f:
            f.write('{"parts": {}}')
    with pytest.raises(RuntimeError, match=r"legacy.*rename each v\{N\} to v\{N\}\.json"):
        versioned.snapshot(root)
    for v in (0, 1):
        os.rename(os.path.join(root, f"v{v}"), os.path.join(root, f"v{v}.json"))
    assert versioned.snapshot(root) == (1, {"parts": {}})


# -- crash window: the pointer swap dies after the manifest is written ----


def _crash_pointer(monkeypatch):
    def boom(root, v):
        raise OSError("crash before the pointer moved")

    monkeypatch.setattr(versioned, "_point", boom)


def test_crash_between_manifest_and_pointer_versioned_table(
    spark, tmp_path, monkeypatch
):
    """A ``_VersionedTable`` commit that dies after writing its manifest
    leaves the table at the prior version (the orphan manifest is not a
    time-travel target), and the next commit reclaims the orphan."""
    from go_vectorsearch_spark.api import _VersionedTable

    schema = "id long, x string"
    t = _VersionedTable(spark, str(tmp_path), "t", schema, partition_expr="id % 2")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    _crash_pointer(monkeypatch)
    with pytest.raises(OSError):
        t.append(spark.createDataFrame([(4, "lost")], schema))
    assert os.path.isfile(os.path.join(t.dir, "v1.json"))  # the orphan
    assert t._version() == 0 and t.versions() == [0]
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b")]

    monkeypatch.undo()
    t.append(spark.createDataFrame([(5, "c")], schema))
    assert t._version() == 1
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "a"),
        (2, "b"),
        (5, "c"),
    ]
    assert sorted(t._manifest(1)) == ["0", "1"]
    assert t._manifest(1)["1"][-1] == "_data/w1/_p=1"
    assert not os.path.exists(os.path.join(t.dir, "_data", "w1", "_p=0"))


def test_crash_between_manifest_and_pointer_postings_store(
    spark, tmp_path, monkeypatch
):
    """The same crash in a postings append: readers keep the prior
    version and score exactly as before, and the next append reclaims
    the orphan batch ``b1``."""
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings,
        bm25_search_stored,
        build_bm25_index,
        read_postings,
        write_postings,
    )

    cols = "doc_id long, text string"
    store = str(tmp_path / "store")
    write_postings(
        build_bm25_index(
            spark.createDataFrame([(1, "alpha bravo"), (2, "alpha charlie")], cols)
        ),
        store,
        n_buckets=4,
    )

    def scores():
        hits = bm25_search_stored(spark, store, "alpha", k=10).collect()
        return [tuple(r) for r in hits]

    before = scores()
    _crash_pointer(monkeypatch)
    with pytest.raises(OSError):
        append_postings(
            build_bm25_index(spark.createDataFrame([(3, "alpha alpha")], cols)), store
        )
    assert os.path.isfile(os.path.join(store, "v1.json"))  # the orphan
    assert versioned.version(store) == 0
    assert scores() == before
    assert read_postings(spark, store)[0].n_docs == 2

    monkeypatch.undo()
    append_postings(
        build_bm25_index(spark.createDataFrame([(4, "alpha delta")], cols)), store
    )
    assert versioned.version(store) == 1
    idx, _ = read_postings(spark, store)
    assert idx.n_docs == 3
    assert {d for d, _s in scores()} == {1, 2, 4}
    batch = spark.read.parquet(os.path.join(store, "batches", "b1"))
    assert {r["doc_id"] for r in batch.select("doc_id").distinct().collect()} == {4}

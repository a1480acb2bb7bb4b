"""The one versioned-store primitive: a pointer to the current version,
one JSON manifest per version, a writer lock, an atomic commit and a
vacuum. The engine's partitioned tables (``api._VersionedTable``) and
the BM25 postings store (``operators/fulltext.py``) both sit on it;
each keeps only its own manifest fields and data-directory writer.

Layout under a store root::

  <root>/VERSION      — the current version number
  <root>/v{N}.json    — manifest of version N (a JSON object)
  <root>/_lock        — the writer lock file
  <root>/<data_dir>/  — immutable data directories the manifests name

**Commit** (Delta Lake's atomic log commit, in miniature): the manifest
is written to a temp file, fsynced and renamed into place, and only
then is the pointer moved the same way. ``os.replace`` is atomic, so a
reader never sees a half-written pointer or manifest, and a commit that
dies between the two renames leaves the store at its prior version; the
next commit recomputes the same version number and overwrites the
orphan.

**Lock**: an OS advisory flock on ``_lock``, held for a mutation's whole
read-version → write-data → commit section. It serializes writers
across threads and processes (two service replicas over one root), and
it is reentrant per thread and root, so a compaction can call the
store's own write under the lock it already holds. Readers take no lock.

**Vacuum**: manifests outside the ``keep`` newest versions are deleted
by count. A data directory no surviving manifest references is deleted
only ``grace_s`` after a vacuum FIRST OBSERVED it dereferenced (a
sentinel file inside it records that moment): a batch written hours ago
can be superseded a second ago while a reader that resolved the old
manifest is still mid-scan, so the write mtime says nothing about when
the data became unreachable. A current-version read whose manifest was
vacuumed between its pointer read and its manifest read re-resolves the
pointer once (:func:`snapshot`).

Swapping this hand-rolled log for Delta or Iceberg is a change to this
one file.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager

POINTER = "VERSION"
LOCK_FILE = "_lock"
DEREF_SENTINEL = "_gvs_derefd"


def _manifest_path(root: str, v: int) -> str:
    return os.path.join(root, f"v{v}.json")


def exists(root: str) -> bool:
    """True once a first version has been committed under ``root``."""
    return os.path.isfile(os.path.join(root, POINTER))


def version(root: str) -> int:
    """The current version number, -1 before the first commit."""
    try:
        with open(os.path.join(root, POINTER)) as f:
            return int(f.read())
    except FileNotFoundError:
        return -1


def _manifest_versions(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(root)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    )


def versions(root: str) -> list[int]:
    """Committed versions still on disk (ascending), the snapshots a
    time-travel read can target. An orphan manifest a failed commit left
    past the pointer is not one of them."""
    current = version(root)
    return [v for v in _manifest_versions(root) if v <= current]


def manifest(root: str, v: int) -> dict:
    """The manifest of version ``v``; KeyError once it is vacuumed."""
    try:
        with open(_manifest_path(root, v)) as f:
            return json.load(f)
    except FileNotFoundError:
        if os.path.isfile(os.path.join(root, f"v{v}")):
            # tables written before this module named manifests v{N}
            raise RuntimeError(
                f"{root}: legacy table layout (manifests named v{{N}}, not "
                f"v{{N}}.json); rename each v{{N}} to v{{N}}.json once to read it"
            ) from None
        raise KeyError(
            f"{root}: version {v} not on disk (available: {versions(root)})"
        ) from None


def snapshot(root: str) -> tuple[int, dict | None]:
    """``(version, manifest)`` of the current version; ``(-1, None)``
    before the first commit. If two commits and a vacuum land between
    the pointer read and the manifest read, the manifest is gone: the
    pointer is re-resolved once, to a newer complete snapshot."""
    v = version(root)
    if v < 0:
        return v, None
    try:
        return v, manifest(root, v)
    except KeyError:
        v = version(root)
        return v, manifest(root, v)


# per thread: abspath -> [open lock file, depth]. Process-wide on
# purpose: two store objects over one root in one process open two
# descriptors, and flock would block the second against the first.
_held = threading.local()


@contextmanager
def lock(root: str):
    """Exclusive writer lock on ``root`` across threads and processes,
    reentrant within one thread."""
    if not hasattr(_held, "locks"):
        _held.locks = {}
    key = os.path.abspath(root)
    entry = _held.locks.get(key)
    if entry is None:
        os.makedirs(key, exist_ok=True)
        f = open(os.path.join(key, LOCK_FILE), "a")
        try:
            fcntl.flock(f, fcntl.LOCK_EX)
        except BaseException:
            f.close()
            raise
        entry = _held.locks[key] = [f, 0]
    entry[1] += 1
    try:
        yield
    finally:
        entry[1] -= 1
        if entry[1] == 0:
            del _held.locks[key]
            fcntl.flock(entry[0], fcntl.LOCK_UN)
            entry[0].close()


def _replace(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: temp file, fsync, rename."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _point(root: str, v: int) -> None:
    """Move the pointer to version ``v`` (the commit's last step)."""
    _replace(os.path.join(root, POINTER), str(v))


def commit(root: str, v: int, m: dict) -> None:
    """Publish ``m`` as version ``v``: manifest first, then the pointer.
    The caller holds :func:`lock` and has written the data ``m`` names."""
    os.makedirs(root, exist_ok=True)
    _replace(_manifest_path(root, v), json.dumps(m))
    _point(root, v)


def deref_expired(path: str, grace_s: float) -> bool:
    """True when the dereferenced directory ``path`` may be deleted.

    The first observation touches the sentinel and returns False; the
    deletion happens on a later vacuum, at least ``grace_s`` after the
    first one saw the path dereferenced. ``grace_s <= 0`` deletes at
    once."""
    if grace_s <= 0:
        return True
    sentinel = os.path.join(path, DEREF_SENTINEL)
    try:
        age = time.time() - os.path.getmtime(sentinel)
    except OSError:
        try:
            with open(sentinel, "w"):
                pass
        except OSError:
            pass  # path vanished under us; the next pass re-observes
        return False
    return age >= grace_s


def _sweep(root: str, rel: str, referenced: set[str], grace_s: float) -> list[str]:
    """Delete the unreferenced directories at or under ``rel``. A
    directory some reference points INSIDE is kept, and its children
    are swept one by one (a table batch whose partitions outlive some
    of their siblings)."""
    if rel in referenced:
        return []
    full = os.path.join(root, rel)
    if any(r.startswith(rel + "/") for r in referenced):
        return [
            r
            for child in sorted(os.listdir(full))
            if os.path.isdir(os.path.join(full, child))
            for r in _sweep(root, f"{rel}/{child}", referenced, grace_s)
        ]
    if not deref_expired(full, grace_s):
        return []
    shutil.rmtree(full, ignore_errors=True)
    return [rel]


def vacuum(
    root: str,
    keep: int,
    data_dir: str,
    refs: Callable[[dict], Iterable[str]],
    grace_s: float = 0.0,
) -> list[str]:
    """Drop the manifests older than the ``keep`` newest versions, then
    the directories under ``data_dir`` that no remaining manifest names
    (``refs`` maps a manifest to the root-relative paths it reads),
    each only after its dereference grace. The caller holds
    :func:`lock`. Returns the removed paths, relative to ``root``."""
    current = version(root)
    removed = []
    for v in _manifest_versions(root):
        if v <= current - keep:
            os.remove(_manifest_path(root, v))
            removed.append(f"v{v}.json")
    referenced = {r for v in _manifest_versions(root) for r in refs(manifest(root, v))}
    base = os.path.join(root, data_dir)
    for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
        if os.path.isdir(os.path.join(base, d)):
            removed += _sweep(root, f"{data_dir}/{d}", referenced, grace_s)
    return removed

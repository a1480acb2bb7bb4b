"""Span recorder and Spark event-log attribution for the traced run.

The benchmark never edits the program: it installs wrappers around the
public functions at each layer boundary (``Tracer.wrap``). Each wrapper
records a span (name, start, end, parent, request id) and sets a nested
Spark job group ``pb<span id>`` for the duration of the call, so every
job the call launches carries the id of the innermost span that
launched it. Spans stay in memory and are written out at exit.

After the session stops, ``parse_event_log`` reads the uncompressed
Spark event log and sums task metrics per job group; ``self_times``
gives each span's duration minus the time its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op, so the untraced run installs no wrapper and sets no group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        """Record ``name`` around the block and yield the span dict, to
        which the block may add attributes. The request id is inherited
        from the enclosing span unless given. ``bk_ms`` is the time the
        recorder itself spent (the job-group round trips)."""
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "name": name,
            **attrs,
        }
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"pb{sid}")
        st.append(sp)
        sp["t0"] = time.perf_counter()
        bk = sp["t0"] - b0
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            st.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            sp["bk_ms"] = (bk + time.perf_counter() - sp["t1"]) * 1000.0
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, after=None, call=None, rid=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.

        ``call(orig, span, *args, **kwargs)`` replaces the plain call;
        ``after(span, args, kwargs, result)`` adds attributes once the
        span has closed; ``rid(args, kwargs)`` names the request."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, rid=rid(args, kwargs) if rid else None) as sp:
                if call is None:
                    out = orig(*args, **kwargs)
                else:
                    out = call(orig, sp, *args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(sp, default=str) + "\n")


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics per job group from the uncompressed event logs under
    ``log_dir``: {group: {jobs, tasks, run_ms, cpu_ms, gc_ms,
    shuffle_bytes, input_records}}. Jobs without a group land under ""."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # a single file per application, or a rolling eventlog_v2_<app>/
    # directory of events_<n>_<app> files beside an empty appstatus
    # file; hidden files are checksums
    files = sorted(
        os.path.join(d, fn)
        for d, _dirs, names in os.walk(log_dir)
        for fn in names
        if not fn.startswith((".", "appstatus"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["input_records"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    return {k: dict(v) for k, v in out.items()}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: duration minus the union of the
    intervals its direct children cover (children may overlap when a
    span fans work out to threads)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append((sp["t0"], sp["t1"]))
    out = {}
    for sp in spans:
        covered, end = 0.0, sp["t0"]
        for a, b in sorted(kids.get(sp["id"], [])):
            a, b = max(a, end), min(b, sp["t1"])
            if b > a:
                covered += b - a
                end = b
        out[sp["id"]] = (sp["t1"] - sp["t0"] - covered) * 1000.0
    return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def ancestors(spans: list[dict]) -> dict[int, list[str]]:
    """Span id -> names of its ancestors, innermost first."""
    by_id = {sp["id"]: sp for sp in spans}
    out = {}
    for sp in spans:
        names, p = [], sp["parent"]
        while p is not None and p in by_id:
            names.append(by_id[p]["name"])
            p = by_id[p]["parent"]
        out[sp["id"]] = names
    return out

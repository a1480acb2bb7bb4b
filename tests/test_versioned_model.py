"""Model-based randomized check of the manifest-versioned table.

The storage layer is the round's riskiest code path: a seeded random
sequence of append / overwrite_partitions / upsert / replace_rows /
compact is applied
both to a `_VersionedTable` and to a plain in-memory dict model; after
every operation the table must equal the model exactly, and at the end
every surviving snapshot must replay its recorded historical state
(time travel) while partitions untouched since the previous version
keep their directories by reference."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

N_PARTS = 4  # partition_expr = pmod(id, 4)


def _model_apply(model: dict, op: str, rows: list, parts: list | None) -> None:
    if op == "append":
        for rid, part, x in rows:
            model[rid] = (part, x)
    elif op == "overwrite":
        keep = {k: v for k, v in model.items() if v[0] not in set(parts)}
        model.clear()
        model.update(keep)
        for rid, part, x in rows:
            if part in set(parts):
                model[rid] = (part, x)
    elif op == "upsert":
        for rid, part, x in rows:
            model[rid] = (part, x)
    elif op == "replace":  # parts = the removed keys here
        for rid in parts:
            model.pop(rid, None)
        for rid, part, x in rows:
            model[rid] = (part, x)


@pytest.mark.parametrize("seed", [7, 2024])
def test_versioned_table_matches_dict_model(spark, tmp_path, seed):
    from go_vectorsearch_spark.api import _VersionedTable

    rng = random.Random(seed)
    t = _VersionedTable(
        spark,
        str(tmp_path / f"m{seed}"),
        "model",
        "id long, part long, x string",
        partition_expr="part",
    )
    model: dict[int, tuple[int, str]] = {}
    history: dict[int, dict] = {}  # actual version number -> model snapshot
    next_id = 0

    def fresh_rows(n: int, parts: list | None = None) -> list:
        nonlocal next_id
        out = []
        for _ in range(n):
            rid = rng.choice([next_id, rng.randrange(max(1, next_id + 1))])
            next_id = max(next_id, rid) + 1
            part = rng.choice(parts) if parts else rng.randrange(N_PARTS)
            out.append((rid, part, f"s{seed}-{rid}-{rng.randrange(1000)}"))
        # unique ids within one batch (the tables' key contract)
        seen, uniq = set(), []
        for r in out:
            if r[0] not in seen:
                seen.add(r[0])
                uniq.append(r)
        return uniq

    def df_of(rows):
        return spark.createDataFrame(rows, t.schema)

    def keys_of(ids):
        # both key shapes: a scanned frame joins, a driver-local
        # (Arrow-backed) one becomes an IN literal
        if rng.random() < 0.5:
            return spark.createDataFrame([(i,) for i in ids], "id long")
        return spark.createDataFrame(pa.table({"id": pa.array(ids, pa.int64())}))

    variants = set()
    for step in range(10):
        op = rng.choice(["append", "overwrite", "upsert", "replace", "compact"])
        if step in (4, 8):
            op = "replace"  # both variants below run on a non-empty table
        if op == "append":
            rows = [
                r for r in fresh_rows(rng.randrange(1, 4)) if r[0] not in model
            ]
            if not rows:
                continue
            t.append(df_of(rows), keep_versions=50)
            _model_apply(model, "append", rows, None)
        elif op == "overwrite":
            parts = rng.sample(range(N_PARTS), rng.randrange(1, 3))
            rows = fresh_rows(rng.randrange(0, 4), parts)
            survivors = [
                (rid, p, x)
                for rid, (p, x) in model.items()
                if p in parts and rid not in {r[0] for r in rows}
            ] + [r for r in rows if r[1] in parts]
            t.overwrite_partitions(df_of(survivors), parts, keep_versions=50)
            _model_apply(model, "overwrite", survivors, parts)
        elif op == "upsert":
            rows = fresh_rows(rng.randrange(1, 4))
            t.upsert(df_of(rows), key="id", keep_versions=50)
            _model_apply(model, "upsert", rows, None)
        elif op == "replace":
            victims = rng.sample(sorted(model), min(len(model), rng.randrange(1, 3)))
            if "remove" not in variants or not victims:
                variants.add("remove")
                rows = []
            else:
                # the victims come back in a different partition, beside
                # brand-new ids
                variants.add("move")
                rows = [
                    (rid, (model[rid][0] + rng.randrange(1, N_PARTS)) % N_PARTS,
                     f"moved-{step}")
                    for rid in victims
                ] + [r for r in fresh_rows(rng.randrange(0, 3)) if r[0] not in model]
            keys = sorted(set(victims) | {r[0] for r in rows})
            # parts: the holding partitions found by the scan, or a
            # superset the caller already holds
            held = sorted({model[rid][0] for rid in victims if rid in model})
            parts = rng.choice([None, sorted(set(held) | {rng.randrange(N_PARTS)})])
            t.replace_rows(
                "id", keys_of(keys), df_of(rows) if rows else None, parts=parts,
                keep_versions=50,
            )
            _model_apply(model, "replace", rows, keys)
        else:
            t.compact(min_dirs=2, keep_versions=50)
            # data unchanged
        got = {r["id"]: (r["part"], r["x"]) for r in t.read().collect()}
        assert got == model, f"step {step} op {op}: table diverged from model"
        if t._version() >= 0:
            history[t._version()] = dict(model)

    assert variants == {"remove", "move"}
    # time travel: every surviving version replays its recorded state
    versions = t.versions()
    assert versions, "no versions written"
    for v in versions:
        got = {r["id"]: (r["part"], r["x"]) for r in t.read(version=v).collect()}
        assert got == history[v], f"time travel to v{v} diverged"


def test_concurrent_writers_from_separate_instances_lose_nothing(spark, tmp_path):
    """Two _VersionedTable instances over the SAME directory (the
    two-service-replica deployment, where the in-process lock can't
    help) appending concurrently must both land: without the
    cross-process flock both read VERSION=v, both write _data/w{v+1}
    (the second's overwrite deleting the first's files), and the last
    manifest silently drops one writer's rows."""
    import threading as th

    from go_vectorsearch_spark.api import _VersionedTable

    mk = lambda: _VersionedTable(
        spark, str(tmp_path), "cc", "id long, part long, x string",
        partition_expr="part",
    )
    a, b = mk(), mk()  # separate instances ≈ separate processes' state
    errs: list[Exception] = []

    def writer(t, base):
        try:
            for i in range(4):
                t.append(
                    spark.createDataFrame(
                        [(base + i, (base + i) % 3, f"r{base + i}")], t.schema
                    )
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [th.Thread(target=writer, args=(a, 0)),
               th.Thread(target=writer, args=(b, 100))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    rows = {r["id"] for r in mk().read().collect()}
    assert rows == set(range(4)) | set(range(100, 104))  # nothing lost


def test_replace_partitions_moves_rows_in_one_commit(spark, tmp_path):
    """replace_partitions = drop named partitions + append rows to the
    partitions they route to, in ONE commit: no intermediate version
    ever shows the rows doubled or missing; receiving partitions keep
    their existing directories by reference and gain one; untouched
    partitions carry over verbatim; the previous snapshot still
    time-travels to the pre-move state."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path / "t"), "t", "id long, part long, x string",
        partition_expr="part",
    )
    t.append(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 2, "d")], t.schema
        )
    )
    v0 = t._version()
    m0 = t._manifest(v0)

    # move partition 0's rows into partitions 1 and 3 (3 is brand new)
    moved = spark.createDataFrame([(1, 1, "a"), (2, 3, "b")], t.schema)
    t.replace_partitions(moved, [0])
    v1 = t._version()
    assert v1 == v0 + 1  # exactly one commit

    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, 1, "a"), (2, 3, "b"), (3, 1, "c"), (4, 2, "d")]
    m1 = t._manifest(v1)
    assert "0" not in m1                      # dropped
    assert m1["2"] == m0["2"]                 # untouched: dirs by reference
    assert m1["1"][: len(m0["1"])] == m0["1"] # receiver: old dirs + new
    assert len(m1["1"]) == len(m0["1"]) + 1
    assert "3" in m1                          # brand-new partition
    # previous snapshot still readable (time travel)
    old = sorted(tuple(r) for r in t.read(version=v0).collect())
    assert old == [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 2, "d")]


def test_orphan_batch_from_failed_write_is_reclaimed(spark, tmp_path):
    """A write that died after creating _data/w{N+1} but before the
    VERSION pointer moved must not wedge the table: the next mutation
    recomputes the same version and overwrites the orphan."""
    import os

    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path / "t"), "t", "id long, part long, x string",
        partition_expr="part",
    )
    t.append(spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], t.schema))
    v = t._version()
    # simulate the failed attempt: orphan batch dir for v+1, pointer at v
    orphan = os.path.join(t.dir, "_data", f"w{v + 1}")
    os.makedirs(os.path.join(orphan, "_p=9"), exist_ok=True)
    with open(os.path.join(orphan, "_p=9", "garbage.parquet"), "w") as f:
        f.write("not parquet")

    t.append(spark.createDataFrame([(3, 2, "c")], t.schema))
    assert t._version() == v + 1
    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]
    # the orphan's stale partition dir must not have leaked into the
    # committed manifest
    assert "9" not in t._manifest(v + 1)

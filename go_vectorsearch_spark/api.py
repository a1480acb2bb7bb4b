"""Service-parity library API: upload / search / categories / delete /
refresh over managed tables.

The reference's HTTP surface (§2.11 of SURVEY.md) as library functions:

  * upload   — server/upload.go:111-323: flatten → chunk → embed →
               assign-to-centroid → persist documents + embeddings
  * search   — server/search.go:115-334: embed query → prune centroids →
               scan probed partitions → deduped top-k → hydrate documents
  * fetch_category_names — server/fetch.go:19-124
  * delete_{owner,category,document} — server/delete.go:214-288 with the
               schema's ON DELETE CASCADE, re-expressed as top-down
               anti-joins that rewrite each child table
  * refresh_index — server/centroids.go:17-83 → plans/ivf.build_index

Storage is a poor-man's versioned table format: immutable data
directories + a tiny JSON manifest per version mapping partition value
-> directories (the moral equivalent of what Delta/Iceberg do, with
none of the machinery; at real scale you'd swap `_VersionedTable` for
Delta and the append/overwrite-partitions calls stay the same shape).
Mutations are PARTITION-SCOPED: uploads append new files only, a
document delete rewrites one hash bucket of `documents` plus the few
centroid lists its chunks lived in — never the table. Embeddings
partition by centroid_id so search's probed scan prunes at the
manifest level, exactly the IVF inverted-list layout
(database/model.go:16's indexed FK column, §1.4 of SURVEY.md).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager as _contextmanager
import time
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.relational import lookup_by_keys

from go_vectorsearch_spark.functions.vector import dequantize, quantize, vector_range
from go_vectorsearch_spark.operators.assign import assign_nearest, assign_nearest_mat
from go_vectorsearch_spark.operators.documents import (
    SEARCH_QUERY_PREFIX,
    document_chunks,
    noop_embed_text,
    prepare_chunks,
)
from go_vectorsearch_spark.operators.search import (
    brute_force_topk,
    brute_force_topk_with_vector,
    mmr_select,
    normalize_search_args,
    topk_paginated,
)
from go_vectorsearch_spark.sources.tables import ensure_package_on_workers

EMBED_DIM = 64  # matches the driver testdata's embedding width

# The managed embeddings table stores QUANTIZED codes + the f32 range —
# never full-precision floats. This mirrors the reference exactly: vectors
# are quantized at JSON-decode time (ai/aicomms/embed.go:42-50) and the
# database only ever sees the [lo f32][hi f32][codes u8] form
# (compute/quantization.go:71-80); every consumer dequantizes in-flight.
# At 100 TB this is the 4x memory/storage headline: 1 byte per dim + 8
# bytes per vector instead of 4 bytes per dim.
# per-table UNIQUE id column, declared (not derived from DDL order):
# the change feed's keyed diff is only correct on a per-snapshot-unique
# key (_VersionedTable.changes)
_TABLE_KEYS = {
    "owners": "owner_id",
    "categories": "category_id",
    "documents": "document_id",
    "embeddings": "embedding_id",
    "centroids": "centroid_id",
}

# documents partition into hash buckets of the primary key so a point
# delete/upsert rewrites ONE bucket, not the corpus; embeddings partition
# by centroid_id (the IVF inverted-list layout — search's probed scan
# reads only the probed lists). Sized so one bucket of a 100 TB corpus
# is still a bounded rewrite; buckets are manifest-level, so re-bucketing
# is just a full write() with a new expression.
N_DOC_BUCKETS = 32
N_BAND_BUCKETS = 16  # near-dup band-store partitions (band-key hash)
# span-cut commit shape switch: at or below this many changed documents
# the write path uses point-delete machinery (driver-held id lists —
# manifest tombstones, isin literals pruned at the scan; the r6 IVF
# split loop learned the same cap); above it everything stays
# frame-shaped end-to-end — a realistic whole-corpus cut changes
# 10-50% of documents, which at the 100 TB design point is 1e8+ ids
# that must never be collect()ed, isin()ed, or written into a manifest.
# Why 10k here while the registry plan lint caps IN literals at 256
# (tests/test_plan_lint.py): the lint guards READ plans that execute
# once per query over the full corpus, where a literal whose size
# tracks the data is the smell being hunted — so its cap sits just
# above the registry's bounded design constants (probe lists, bucket
# sets). This cap bounds a WRITE-path literal that (a) is a fixed
# engine constant, never data-derived growth, (b) executes once per
# admin mutation, not per serving query, and (c) exists precisely to
# keep the manifest tombstone list (one row per changed doc) worth
# more than a rebuild — at 10k ids the serialized literal is ~100 KB
# of plan, negligible against the rewrite it prunes. Lowering it to
# 256 would push 99% of realistic targeted cuts onto the whole-store
# rebuild path for no scan saving.
BULK_REWRITE_CAP = 10_000
_PARTITION_EXPRS = {
    "embeddings": "centroid_id",
    "documents": f"pmod(document_id, {N_DOC_BUCKETS})",
}

_SCHEMAS = {
    "owners": "owner_id long, name string",
    "categories": "category_id long, name string, owner_id long",
    "documents": (
        "document_id long, name string, external_id string, "
        "payload_json string, category_id long"
    ),
    "embeddings": (
        "embedding_id long, document_id long, centroid_id long, "
        "codes array<int>, lo float, hi float"
    ),
    "centroids": "centroid_id long, category_id long, vector array<float>",
}


def quantized_store(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    precision: str = "float32",
) -> DataFrame:
    """Convert a float-vector frame to the engine's canonical quantized
    form: (id, codes array<int>, lo float, hi float), per-vector
    0-anchored f32 range (§1.3 semantics). Pure Catalyst expressions.
    precision="float64" runs the affine map in double for engines that
    must reproduce the codes without f32 arithmetic (the oracle)."""
    lo, hi = vector_range(F.col(vec_col))
    with_range = emb.select(
        F.col(id_col), F.col(vec_col).alias("_raw"), lo.alias("lo"), hi.alias("hi")
    )
    return with_range.select(
        id_col,
        quantize(F.col("_raw"), F.col("lo"), F.col("hi"), precision).alias("codes"),
        "lo",
        "hi",
    )


def dequantized_vector(store: DataFrame, out_col: str = "vector") -> DataFrame:
    """Attach the dequantize-in-expression working vector to a quantized
    store frame — the scoring path never materializes a float table; the
    dequantize folds into the downstream cosine expression inside
    whole-stage codegen."""
    return store.withColumn(
        out_col, dequantize(F.col("codes"), F.col("lo"), F.col("hi"), "float32")
    )


class NearDupIndexMissing(ValueError):
    """upload(neardup="skip") / neardup_check against a category with no
    built band index — a CLIENT error (the caller must run
    build_neardup_index first). Its own type so the HTTP layer can map
    exactly this case to 400 without catching engine-internal
    ValueErrors raised later in the upload (embed failures, malformed
    stored JSON), which must stay 500s."""


def _row_group_stats(path: str, col: str) -> list:
    """Parquet statistics of ``col`` in each row group of one file, read
    from its footer; ``[None]`` if the file has no such column."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    paths = [md.schema.column(j).path for j in range(md.num_columns)]
    if col not in paths:
        return [None]
    ix = paths.index(col)
    return [md.row_group(g).column(ix).statistics for g in range(md.num_row_groups)]


class _VersionedTable:
    """Manifest-versioned parquet table with PARTITION-SCOPED writes.

    Layout (a hand-rolled miniature of what Delta/Iceberg do):

      <dir>/VERSION        — pointer to the current version number
      <dir>/v{N}           — manifest FILE for version N (JSON): maps
                             partition value -> list of immutable data
                             directories composing that partition
      <dir>/_data/w{N}/    — write batch N's parquet files; partitioned
                             tables get one ``_p=<value>`` subdir per
                             touched value (the partition column itself
                             stays IN the data files; ``_p`` only names
                             the directory)

    A snapshot is a manifest; data directories are immutable and SHARED
    across versions, so a mutation that touches K partitions writes K
    new directories and carries every other partition over by reference
    — a one-document delete no longer rewrites the table (the round-3
    verdict's 100 TB write-path scale-killer). Readers resolve the
    pointer once and scan immutable paths, so they keep their snapshot
    regardless of concurrent writers; time travel = reading an older
    manifest.

    ``partition_expr`` is a SQL expression string (e.g. ``centroid_id``
    or ``pmod(document_id, 32)``) evaluated at write time to route rows
    to partitions; callers pass plain Python values of that expression
    to :meth:`read`'s ``partition_values`` / :meth:`overwrite_partitions`.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema: str,
        vacuum_min_age_s: float = 0.0,
        partition_expr: str | None = None,
    ):
        self.spark, self.name, self.schema = spark, name, schema
        self.partition_expr = partition_expr
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)
        self._ptr = os.path.join(self.dir, "VERSION")
        self._lock_tls = threading.local()  # _write_lock reentrancy depth
        # retention grace: never GC a data directory younger than this,
        # so a reader that resolved its manifest and is mid-scan keeps
        # its snapshot even if the keep-window count has moved past it
        # (two quick writes would otherwise rmtree the files under an
        # in-flight multi-second job). 0 = count-only (unit tests).
        self.vacuum_min_age_s = vacuum_min_age_s

    def _version(self) -> int:
        if not os.path.exists(self._ptr):
            return -1
        with open(self._ptr) as f:
            return int(f.read().strip())

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending) — the snapshots a
        time-travel read can target. Bounded by the write-time vacuum
        keep window."""
        out = []
        for d in os.listdir(self.dir):
            if d.startswith("v") and d[1:].isdigit():
                out.append(int(d[1:]))
        return sorted(out)

    # -- manifest plumbing --------------------------------------------------
    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v}")

    def _manifest(self, v: int) -> dict[str, list[str]]:
        """parts mapping of version v: partition value (as string; "" for
        unpartitioned) -> data dirs relative to the table dir."""
        import json

        path = self._manifest_path(v)
        if not os.path.isfile(path):
            raise KeyError(
                f"{self.name}: version {v} not on disk "
                f"(available: {self.versions()})"
            )
        with open(path) as f:
            return json.load(f)["parts"]

    @_contextmanager
    def _write_lock(self):
        """CROSS-PROCESS writer serialization: an OS advisory flock held
        for a mutation's whole read-version → write-batch → commit
        critical section. Two service replicas over one table root
        would otherwise both read VERSION=v and both write _data/w{v+1}
        (the second's overwrite deleting the first's files) — the
        in-process Service lock cannot see the other process. Reentrant
        per thread (upsert/compact wrap the primitives); a second
        THREAD or PROCESS blocks on the flock, so read-modify-write
        mutations serialize everywhere the root is a shared local/NFS
        mount. Readers take no lock — they resolve the pointer once and
        scan immutable paths (snapshot isolation unchanged)."""
        import fcntl

        tls = self._lock_tls
        depth = getattr(tls, "depth", 0)
        if depth == 0:
            f = open(os.path.join(self.dir, "_lock"), "w")
            fcntl.flock(f, fcntl.LOCK_EX)
            tls.fd = f
        tls.depth = depth + 1
        try:
            yield
        finally:
            tls.depth -= 1
            if tls.depth == 0:
                fcntl.flock(tls.fd, fcntl.LOCK_UN)
                tls.fd.close()

    def _commit(self, v: int, parts: dict[str, list[str]], keep: int) -> None:
        import json

        with open(self._manifest_path(v), "w") as f:
            json.dump({"parts": parts}, f)
        with open(self._ptr, "w") as f:
            f.write(str(v))
        self._vacuum(v, keep)

    def _write_batch(self, df: DataFrame, v: int) -> dict[str, list[str]]:
        """Write df as immutable batch w{v}; return its parts mapping.

        mode("overwrite"): a FAILED prior attempt at this version (write
        job died after creating the directory, before _commit moved the
        VERSION pointer) leaves an orphan w{v} no manifest references;
        the next mutation recomputes the same v and must be able to
        reclaim the path, or the table wedges on error-if-exists
        forever. Committed batches are never at risk — the pointer
        advance makes v unreachable for later writers."""
        rel = os.path.join("_data", f"w{v}")
        path = os.path.join(self.dir, rel)
        if self.partition_expr:
            # route each value's rows to ONE task before partitionBy:
            # without the repartition every write task emits a file per
            # value (tasks x values small files at cluster scale)
            (
                df.withColumn("_p", F.expr(self.partition_expr).cast("string"))
                .repartition(F.col("_p"))
                .write.mode("overwrite")
                # static overwrite: reclaim the WHOLE orphan dir — under
                # a session-level dynamic partitionOverwriteMode the
                # orphan's unmatched _p dirs would survive and corrupt
                # the listdir-derived parts mapping below
                .option("partitionOverwriteMode", "static")
                .partitionBy("_p")
                .parquet(path)
            )
            return {
                d.split("=", 1)[1]: [os.path.join(rel, d)]
                for d in os.listdir(path)
                if d.startswith("_p=")
            }
        df.write.mode("overwrite").parquet(path)
        return {"": [rel]}

    def read(
        self,
        version: int | None = None,
        partition_values: Sequence | None = None,
    ) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version``.

        ``partition_values`` prunes the scan to those partitions at the
        MANIFEST level — untouched directories are never even listed
        (engine-side partition pruning, the IVF inverted-list skip).
        Raises KeyError for a version the vacuum window already dropped
        — callers must not silently get a different snapshot than they
        asked for.
        """
        v = self._version() if version is None else version
        if v < 0:
            if version is not None:
                raise KeyError(f"{self.name}: version {version} not on disk")
            return self.spark.createDataFrame([], self.schema)
        parts = self._manifest(v)
        if partition_values is not None:
            keys = {str(x) for x in partition_values}
            dirs = [d for k in sorted(keys & parts.keys()) for d in parts[k]]
        else:
            dirs = [d for k in sorted(parts) for d in parts[k]]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(self.schema)
            # recursiveFileLookup disables partition-dir inference, so
            # the ``_p=`` path component never surfaces as a column
            .option("recursiveFileLookup", "true")
            .parquet(*[os.path.join(self.dir, d) for d in dirs])
        )

    def _data_files(self, v: int) -> list[str]:
        """Paths of the data files that version ``v``'s manifest
        references, hidden names (``_*``, ``.*``) skipped as Spark skips
        them."""
        out = []
        for dirs in self._manifest(v).values():
            for rel in dirs:
                for base, subdirs, files in os.walk(os.path.join(self.dir, rel)):
                    subdirs[:] = [d for d in subdirs if not d.startswith(("_", "."))]
                    out += [
                        os.path.join(base, f)
                        for f in files
                        if not f.startswith(("_", "."))
                    ]
        return out

    def max_value(self, col: str):
        """``max(col)`` over the current snapshot, from the parquet
        footers of the data files its manifest references: row-group
        statistics read on the driver, with no listing job and no scan.
        If any row group lacks statistics for ``col`` the value comes from
        a scan of the same snapshot instead. ``None`` for an empty or
        never-written table, like the aggregate."""
        v = self._version()
        if v < 0:
            return None
        stats = [
            st for path in self._data_files(v) for st in _row_group_stats(path, col)
        ]
        if any(st is None or not st.has_min_max for st in stats):
            return self.read(v).agg(F.max(col)).head()[0]
        return max((st.max for st in stats), default=None)

    def write(self, df: DataFrame, keep_versions: int = 2) -> None:
        """Full-snapshot rewrite — for tiny metadata tables and whole-
        table transformations (index refresh reassigns every row). Data-
        plane mutations use :meth:`append` / :meth:`overwrite_partitions`."""
        with self._write_lock():
            v = self._version() + 1
            self._commit(v, self._write_batch(df, v), keep_versions)

    def append(self, df: DataFrame, keep_versions: int = 2) -> None:
        """Add rows without rewriting ANY existing data: the new manifest
        carries every prior directory by reference and adds the new
        batch's. Upload's shape (server/upload.go:288-304's INSERTs)."""
        with self._write_lock():
            v = self._version() + 1
            parts = dict(self._manifest(v - 1)) if v > 0 else {}
            for key, dirs in self._write_batch(df, v).items():
                parts[key] = parts.get(key, []) + dirs
            self._commit(v, parts, keep_versions)

    def overwrite_partitions(
        self, df: DataFrame, partition_values: Sequence, keep_versions: int = 2
    ) -> None:
        """Replace ONLY the named partitions with df's rows for them
        (df is filtered to those partitions — callers pass the full
        survivor plan); every other partition is carried over by
        reference. Spark's dynamic partition overwrite, expressed at
        the manifest level so old snapshots stay readable."""
        if not self.partition_expr:
            raise ValueError(f"{self.name}: table is not partitioned")
        keys = {str(x) for x in partition_values}
        if not keys:
            return
        with self._write_lock():
            v = self._version() + 1
            scoped = df.filter(
                F.expr(self.partition_expr)
                .cast("string")
                .isin([str(x) for x in partition_values])
            )
            parts = {
                k: d for k, d in (self._manifest(v - 1) if v > 0 else {}).items()
                if k not in keys
            }
            parts.update(self._write_batch(scoped, v))
            self._commit(v, parts, keep_versions)

    def replace_partitions(
        self,
        df: DataFrame,
        remove_values: Sequence,
        keep_versions: int = 2,
    ) -> None:
        """One atomic commit that DROPS the named partitions and APPENDS
        ``df``'s rows to whatever partitions they route to — the
        cross-partition move primitive (incremental index refresh:
        a split's members leave the old centroid's partition for new
        ones; a dissolved leaf's members join surviving partitions).
        Unlike :meth:`overwrite_partitions`, df is NOT filtered to the
        removed keys — its rows may land in partitions that also carry
        existing directories (append semantics there). A reader never
        sees the in-between state a remove-then-append pair would
        expose (rows doubled or missing for one version)."""
        if not self.partition_expr:
            raise ValueError(f"{self.name}: table is not partitioned")
        with self._write_lock():
            v = self._version() + 1
            remove = {str(x) for x in remove_values}
            parts = {
                k: d
                for k, d in (self._manifest(v - 1) if v > 0 else {}).items()
                if k not in remove
            }
            for key, dirs in self._write_batch(df, v).items():
                parts[key] = parts.get(key, []) + dirs
            self._commit(v, parts, keep_versions)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        key: str | None = None,
    ) -> DataFrame:
        """Change feed between two snapshots (Delta CDF's
        ``table_changes`` analog, computed on demand from the immutable
        version directories): every row of the newer snapshot not in the
        older one tagged ``insert``, every departed row tagged
        ``delete``, and — when ``key`` names the table's id column —
        rows present on both sides with changed content tagged
        ``update_preimage``/``update_postimage``.

        Plans (all minimal-diff shapes): keyless mode is two
        ``exceptAll`` set-diffs (one shuffle each over hashed full
        rows); keyed mode is two anti-joins on the key plus one
        key-join of md5(row-json) digests to find updates — the key
        and a 32-hex digest shuffle, never double-width rows. Output =
        table columns + ``_change_type``. Keyed mode assumes ``key``
        is unique per snapshot (true for every engine table's id
        column); duplicated keys would mis-classify updates — use
        keyless mode for non-unique data.
        """
        old = self.read(from_version)
        new = self.read(to_version)
        ct = F.lit
        if key is None:
            return new.exceptAll(old).withColumn(
                "_change_type", ct("insert")
            ).unionByName(
                old.exceptAll(new).withColumn("_change_type", ct("delete"))
            )
        cols = new.columns
        digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
        o = old.withColumn("_d", digest)
        n = new.withColumn("_d", digest)
        inserted = n.join(o.select(key), key, "left_anti").withColumn(
            "_change_type", ct("insert")
        )
        deleted = o.join(n.select(key), key, "left_anti").withColumn(
            "_change_type", ct("delete")
        )
        changed_keys = (
            n.select(key, F.col("_d").alias("_dn"))
            .join(o.select(key, F.col("_d").alias("_do")), key)
            .filter(F.col("_dn") != F.col("_do"))
            .select(key)
        )
        pre = o.join(changed_keys, key, "left_semi").withColumn(
            "_change_type", ct("update_preimage")
        )
        post = n.join(changed_keys, key, "left_semi").withColumn(
            "_change_type", ct("update_postimage")
        )
        out = inserted.unionByName(deleted).unionByName(pre).unionByName(post)
        return out.select(*cols, "_change_type")

    def upsert(self, df: DataFrame, key: str, keep_versions: int = 2) -> None:
        """MERGE by unique key: rows whose ``key`` exists are replaced,
        new keys are inserted — the reference's GORM ``Save`` upsert
        (dnc/dnc.go:159-162) generalized to any table. Partition-scoped:
        only partitions the INCOMING rows land in are rewritten (their
        survivors = old rows anti-joined on the incoming key set), every
        other partition is carried by reference; unpartitioned tables
        fall back to a full anti-join rewrite (they are metadata-sized).

        Assumes ``key`` is unique per snapshot. A row MAY move
        partitions (an embedding reassigned to a new centroid): the
        touched set is the union of the partitions the incoming rows
        land in and the partitions currently holding the incoming keys
        (one key-semi-join scan — the match-finding pass every MERGE
        pays), so no stale twin is left behind."""
        with self._write_lock():
            self._upsert_locked(df, key, keep_versions)

    def _upsert_locked(self, df: DataFrame, key: str, keep_versions: int) -> None:
        if not self.partition_expr:
            old = self.read()
            self.write(
                old.join(df.select(key), key, "left_anti").unionByName(df),
                keep_versions=keep_versions,
            )
            return
        part = F.expr(self.partition_expr)
        new_parts = {r[0] for r in df.select(part).distinct().collect()}
        old_parts = {
            r[0]
            for r in self.read()
            .join(df.select(key), key, "left_semi")
            .select(part)
            .distinct()
            .collect()
        }
        touched = sorted(new_parts | old_parts)
        if not touched:
            return
        survivors = self.read(partition_values=touched).join(
            df.select(key), key, "left_anti"
        )
        self.overwrite_partitions(
            survivors.unionByName(df), touched, keep_versions=keep_versions
        )

    def compact(self, min_dirs: int = 2, keep_versions: int = 2) -> list[str]:
        """Collapse every partition whose manifest lists >= ``min_dirs``
        directories into ONE directory (the append path accumulates a
        directory per upload per touched partition — the classic
        small-file problem; same job as streaming/ingest's
        compact_partitioned and Delta's OPTIMIZE). One new snapshot;
        partitions already compact are carried by reference, so the
        rewrite cost is proportional to the fragmented data only.
        Returns the partition keys compacted."""
        with self._write_lock():
            return self._compact_locked(min_dirs, keep_versions)

    def _compact_locked(self, min_dirs: int, keep_versions: int) -> list[str]:
        v = self._version()
        if v < 0:
            return []
        parts = self._manifest(v)
        victims = sorted(k for k, dirs in parts.items() if len(dirs) >= min_dirs)
        if not victims:
            return []
        if not self.partition_expr:
            self.write(self.read(), keep_versions=keep_versions)
            return victims
        self.overwrite_partitions(
            self.read(partition_values=victims), victims, keep_versions=keep_versions
        )
        return victims

    def _vacuum(self, current: int, keep: int) -> None:
        """Drop manifests older than the ``keep`` most recent, then
        garbage-collect data directories no surviving manifest
        references (what Delta's VACUUM exists for) — but never sooner
        than ``vacuum_min_age_s`` after the directory was FIRST
        OBSERVED dereferenced (retention.deref_expired's sentinel; the
        same retention idea as Delta's VACUUM ... RETAIN, measured from
        dereference rather than the write mtime — a batch written hours
        ago can be superseded a second ago while a reader who resolved
        the old manifest is still mid-scan). Shared directories
        referenced by any live manifest survive indefinitely — that
        sharing is what makes a mutation cost O(touched partitions),
        not O(table)."""
        import shutil

        from go_vectorsearch_spark.retention import deref_expired

        for old in range(max(0, current - keep + 1)):
            p = self._manifest_path(old)
            if os.path.isfile(p):
                os.remove(p)
        referenced: set[str] = set()
        for v in self.versions():
            try:
                for dirs in self._manifest(v).values():
                    referenced.update(dirs)
            except (KeyError, ValueError):
                continue
        data_root = os.path.join(self.dir, "_data")
        if not os.path.isdir(data_root):
            return
        grace = self.vacuum_min_age_s
        for batch in os.listdir(data_root):
            bpath = os.path.join(data_root, batch)
            brel = os.path.join("_data", batch)
            if not os.path.isdir(bpath) or brel in referenced:
                continue
            live = False
            for child in os.listdir(bpath):
                if not child.startswith("_p="):
                    continue
                cpath = os.path.join(bpath, child)
                if os.path.join(brel, child) in referenced:
                    live = True
                    continue
                if not deref_expired(cpath, grace):
                    live = True
                    continue
                shutil.rmtree(cpath, ignore_errors=True)
            if live:
                continue
            if deref_expired(bpath, grace):
                shutil.rmtree(bpath, ignore_errors=True)


def _rank_probe_ids(
    cent_rows: list[tuple[int, list[float]]],
    query_vec: Sequence[float],
    nprobe: int,
) -> list[int]:
    """T1: top-nprobe centroid ids by cosine over the TTL-cached rows —
    a thin adapter over the one probe-ranker implementation
    (plans/ivf._rank_centroids), passing the engine's 6-decimal edge
    rounding so the probe set matches brute_force_topk's
    (round(score, 6) desc, id asc) total order; zero-norm sides score
    0.0 in the shared kernel."""
    import numpy as np

    from go_vectorsearch_spark.plans.ivf import _rank_centroids

    if not cent_rows:
        return []
    ids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    mat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    return _rank_centroids(ids, mat, list(query_vec), nprobe, round_decimals=6)


class _TTLCache:
    """M2: TTL read-through cache with singleflight dedup — the serving
    layer's metadata cache (cache/middleware.go:18-163 + cache/cache.go:
    38-79, CACHE_DURATION=5 s, config/constants.go:15). Concurrent loads
    of the same key collapse onto ONE loader call (a per-key lock is Go
    singleflight's moral equivalent); a ``None`` result is never cached
    (the reference caches only successful fetches). Mutations call
    :meth:`clear` — stricter than the reference's pure TTL expiry, so a
    single-process engine never serves stale metadata to itself; other
    processes on the same root are bounded by the TTL, as in the
    reference."""

    def __init__(self, ttl_s: float):
        self.ttl_s = ttl_s
        self._lock = threading.Lock()
        self._items: dict = {}  # key -> (expires_at, value)
        self._inflight: dict = {}  # key -> per-key loader gate
        self._gen = 0  # bumped by clear(): fences in-flight loaders

    def get(self, key, loader):
        with self._lock:
            hit = self._items.get(key)
            if hit and hit[0] > time.monotonic():
                return hit[1]
            gate = self._inflight.get(key)
            if gate is None:
                gate = self._inflight[key] = threading.Lock()
            gen = self._gen
        with gate:
            with self._lock:
                # the flight we queued behind may have filled the entry
                hit = self._items.get(key)
                if hit and hit[0] > time.monotonic():
                    return hit[1]
                gen = self._gen  # re-read under the gate
            value = loader()
            with self._lock:
                # a clear() DURING the load means this value is a
                # pre-mutation snapshot — return it to the caller (their
                # read began before the mutation; snapshot semantics)
                # but do NOT cache it, or every request for a full TTL
                # would probe centroids / resolve categories the
                # mutation just dropped
                if value is not None and gen == self._gen:
                    self._items[key] = (time.monotonic() + self.ttl_s, value)
                self._inflight.pop(key, None)
            return value

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self._gen += 1


def _local_frame(spark: SparkSession, schema, rows: Sequence[tuple]) -> DataFrame:
    """``rows`` as a DataFrame over an Arrow table with ``schema`` (a
    pyarrow schema). Spark plans it as a LocalRelation, so building it
    runs no job and neither does its collect(); a frame built from a
    Python list is an RDD scan and pays one job per action."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def assign_embedding_ids(
    chunks: DataFrame, base_emb: int, base_doc: int, stride: int | None = None
) -> DataFrame:
    """Unique, deterministic embedding_id per (doc_id, chunk_idx) with NO
    global sort: id = base + (doc_id - base_doc) * stride + chunk_idx,
    stride = max chunks per doc in the batch (one tiny agg job unless
    the caller passes it). A
    row_number over an unpartitioned Window would funnel the whole batch
    through one task — fine for request-sized uploads, the wrong shape
    for bulk ingest. Ids are gappy (stride over-allocates); id allocation
    is max+1 so gaps are harmless."""
    if stride is None:
        stride = (chunks.agg(F.max("chunk_idx")).head()[0] or 0) + 1
    return chunks.withColumn(
        "embedding_id",
        F.lit(base_emb)
        + (F.col("doc_id") - F.lit(base_doc)) * F.lit(stride)
        + F.col("chunk_idx"),
    )


class Engine:
    """The vector-search engine over managed tables (one instance ~ one
    reference server process; a 'deployment' would point many readers at
    the same root)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embed_dim: int = EMBED_DIM,
        api_bases: Sequence[str] | None = None,
        embed_model: str = "embed",
        providers: Sequence | None = None,
        cache_ttl_s: float = 5.0,
    ):
        """``providers``: ordered EmbedProvider list (ollama → openai →
        ...) resolved first-configured-wins exactly like the reference
        (ai/methods.go:14-22). ``api_bases`` is the one-provider Ollama
        shorthand. With neither, the deterministic in-process noop model
        runs (noop/ai.go:47-64). ``cache_ttl_s``: metadata/centroid
        cache TTL (CACHE_DURATION, config/constants.go:15); 0 disables."""
        from go_vectorsearch_spark.sources.embed_http import (
            EmbedProvider,
            select_embed_provider,
        )

        # the upload path's pandas UDFs import this package on Spark's
        # Python workers, which do not share the driver's sys.path
        ensure_package_on_workers(spark)
        self.spark = spark
        self.root = root
        self.embed_dim = embed_dim
        self.embed_model = embed_model
        if providers:
            self.provider = select_embed_provider(list(providers))
        elif api_bases:
            self.provider = EmbedProvider(
                api_bases=tuple(str(b) for b in api_bases), model=embed_model
            )
        else:
            self.provider = None
        # legacy attribute (tests/back-compat): bases of the active provider
        self.api_bases = list(self.provider.api_bases) if self.provider else None
        # 5-minute vacuum grace: an Engine serves concurrent snapshot
        # readers (service.py), so old versions must outlive any
        # plausible in-flight scan before the keep-window count drops
        # them. Direct _VersionedTable users (unit tests) default to 0.
        self._cache = _TTLCache(cache_ttl_s) if cache_ttl_s > 0 else None
        self.t = {
            name: _VersionedTable(
                spark,
                root,
                name,
                ddl,
                vacuum_min_age_s=300.0,
                partition_expr=_PARTITION_EXPRS.get(name),
            )
            for name, ddl in _SCHEMAS.items()
        }

    # -- embedding seam (S12) ----------------------------------------------
    def _embed_chunks(self, chunks: DataFrame) -> DataFrame:
        """chunk text -> canonical (codes, lo, hi) via the configured
        provider (HTTP batched mapInPandas, or noop expressions)."""
        from go_vectorsearch_spark.sources.embed_http import embed_chunks

        return embed_chunks(
            chunks,
            text_col="chunk",
            dim=self.embed_dim,
            providers=[self.provider] if self.provider else None,
        )

    def _embed_query(self, qtext: str) -> list[float]:
        """One query vector, driver-side (the reference embeds the query
        with the same provider call as uploads, server/search.go:124-147).
        HTTP mode posts a single-text batch; noop mode hashes the text
        in-process with the expression's pure-Python twin
        (documents.noop_embed_text) and runs no Spark job."""
        if self.provider:
            import numpy as np

            # same request shape AND options as the upload path (shared
            # helper — the reference embeds the query with the same
            # provider call as uploads, server/search.go:124-147)
            codes, lo, hi = self._embed_once_failover([qtext])
            # quantize-at-decode round-trip: the reference scores the
            # query against dequantized stored vectors with the query
            # itself having passed through the same u8 codec
            span = np.float32(hi[0]) - np.float32(lo[0])
            return (
                np.float32(lo[0]) + codes[0].astype(np.float32) / np.float32(255.0) * span
            ).astype(float).tolist()
        return noop_embed_text(qtext, dim=self.embed_dim)

    # -- id allocation ----------------------------------------------------
    def _next_id(self, table: str, id_col: str) -> int:
        top = self.t[table].max_value(id_col)
        return (top if top is not None else 0) + 1

    def _get_or_create(self, table: str, id_col: str, filters: dict) -> int:
        df = self.t[table].read()
        cond = None
        for k, v in filters.items():
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else cond & c
        hit = df.filter(cond).select(id_col).head()
        if hit is not None:
            return hit[0]
        new_id = self._next_id(table, id_col)
        new_row = self.spark.createDataFrame(
            [{id_col: new_id, **filters}], _SCHEMAS[table]
        )
        self.t[table].append(new_row)
        return new_id

    # -- upload (server/upload.go:111-323) ---------------------------------
    def upload(
        self,
        owner: str,
        category: str,
        documents: list[dict],
        neardup: str | None = None,
        neardup_threshold: float = 0.5,
    ) -> list[int]:
        """documents: [{name, external_id, document(JSON str)}] → ids.

        ``neardup="skip"`` (requires :meth:`build_neardup_index` to have
        run for the category) drops near-duplicate documents BEFORE the
        embed stage — the whole point of ingest-time dedup is not paying
        to embed a copy. The check-then-insert is NOT atomic across
        engines: two concurrent skip-uploads of the same new text (in
        different processes, or engine-direct callers bypassing the
        Service's per-route write lock) can both pass the check and
        both insert — the same at-least-once trade every LSH ingest
        dedup makes; a later corpus-level dedup pass reconciles. The returned list stays POSITIONAL: a skipped
        document's slot holds the id of the stored document it
        duplicated (best Jaccard, ties to the smallest id), or of the
        earlier in-batch survivor it duplicated — so callers can always
        map input k to a live document id. Surviving documents of a
        category with a near-dup index are appended to it automatically
        (the same hybrid-consistency contract as the text index)."""
        if neardup not in (None, "skip"):
            raise ValueError(f"upload: unknown neardup mode {neardup!r}")
        if not documents:
            # clean no-op: without this, the first upload to a new
            # category would crash on the empty seed head() after
            # owner/category rows were already committed
            return []
        if neardup == "skip":
            # resolve READ-ONLY before any writes: a rejected request
            # (mapped to HTTP 400) must not persist owner/category rows
            # as a side effect of _get_or_create
            cid = self._category_id(owner, category)
            if cid is None or not os.path.exists(
                f"{self._neardup_path(cid)}/VERSION"
            ):
                raise NearDupIndexMissing(
                    f"upload: neardup='skip' but no near-dup index for "
                    f"{owner}/{category}; run build_neardup_index first"
                )
        owner_id = self._get_or_create("owners", "owner_id", {"name": owner})
        category_id = self._get_or_create(
            "categories", "category_id", {"name": category, "owner_id": owner_id}
        )

        # ingest-time near-dup skip: resolve each input to "fresh" or
        # "duplicate of <id / earlier input>" before any embedding work
        dup_of: dict[int, int] = {}  # input ix -> matched stored doc id
        dup_of_ix: dict[int, int] = {}  # input ix -> earlier input ix
        if neardup == "skip":
            import json as _json

            from go_vectorsearch_spark.operators import dedup as DD
            from go_vectorsearch_spark.operators.documents import flatten

            texts = [flatten(_json.loads(d["document"])) for d in documents]
            # vs the stored corpus: bucket-pruned band match + exact verify
            best: dict[int, tuple[float, int]] = {}
            for r in self.neardup_check(
                owner, category, texts, threshold=neardup_threshold
            ).collect():
                cur = best.get(r["q_ix"])
                cand = (-r["jaccard"], r["document_id"])
                if cur is None or cand < cur:
                    best[r["q_ix"]] = cand
            # within the batch itself (the store can't see these yet)
            batch = self.spark.createDataFrame(
                list(enumerate(texts)), "q_ix long, _text string"
            )
            pair_rows = DD.minhash_lsh_pairs(
                batch,
                id_col="q_ix",
                text_col="_text",
                threshold=neardup_threshold,
                # request-sized batch in a long-lived service: a
                # persisted signature frame would leak per upload
                persist_signatures=False,
            ).collect()
            peers: dict[int, list[int]] = {}
            for r in pair_rows:  # id_a < id_b by construction
                peers.setdefault(int(r["id_b"]), []).append(int(r["id_a"]))
            # ascending scan: an input survives unless it matched the
            # store or an EARLIER SURVIVOR (a chain of near-dups keeps
            # exactly its first member, like dedup.exact_dedup)
            for ix in range(len(documents)):
                if ix in best:
                    dup_of[ix] = best[ix][1]
                    continue
                for a in sorted(peers.get(ix, [])):
                    if a not in dup_of and a not in dup_of_ix:
                        dup_of_ix[ix] = a
                        break
            survivors = [
                i for i in range(len(documents))
                if i not in dup_of and i not in dup_of_ix
            ]
            if not survivors:
                # nothing fresh: dup_of_ix targets survivors only, so
                # with zero survivors every slot matched the store
                return [dup_of[ix] for ix in range(len(documents))]
            documents = [documents[i] for i in survivors]
        import numpy as np
        import pyarrow as pa

        # the request-sized ends run on the driver: chunking here (a bad
        # payload fails before any write), and the documents and chunk
        # rows become Arrow-backed LocalRelations — no job builds them
        doc_chunks = [
            document_chunks(d.get("name", ""), d["document"], ctx_num=2048)
            for d in documents
        ]
        base_doc = self._next_id("documents", "document_id")
        ids = [base_doc + i for i in range(len(documents))]
        long, text = pa.int64(), pa.string()
        new_docs = _local_frame(
            self.spark,
            pa.schema([("document_id", long), ("name", text), ("external_id", text),
                       ("payload_json", text), ("category_id", long)]),
            [
                (doc_id, d.get("name", ""), d.get("external_id", ""), d["document"],
                 category_id)
                for doc_id, d in zip(ids, documents)
            ],
        )
        chunk_frame = _local_frame(
            self.spark,
            pa.schema([("doc_id", long), ("chunk_idx", pa.int32()), ("chunk", text)]),
            [
                (doc_id, ix, chunk)
                for doc_id, texts in zip(ids, doc_chunks)
                for ix, chunk in enumerate(texts)
            ],
        )
        # Embed → quantized codes immediately (the reference never holds
        # full precision past the decode boundary, ai/aicomms/embed.go:
        # 42-50). "vector" is the dequantize-in-expression working column
        # used for centroid assignment, never stored.
        # persist: the embed stage (an HTTP mapInPandas in live mode) is
        # referenced by up to two actions below (seed head, embeddings
        # write) — unpersisted, every chunk would be re-POSTed to the
        # embed endpoint per action, and a non-bit-deterministic
        # endpoint would seed centroids from a different response than
        # the stored codes
        chunks = dequantized_vector(self._embed_chunks(chunk_frame)).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )

        # one fresh collect of the category's centroids: a cached list
        # another process has since replaced could assign into a list
        # that no longer exists
        cents = self._category_centroids(category_id, fresh=True)
        if not cents:
            # first upload of a category seeds centroid #1 with the
            # first chunk's embedding (server/upload.go:210-227)
            first = chunks.orderBy("doc_id", "chunk_idx").select("vector").head()
            seed_id = self._next_id("centroids", "centroid_id")
            self.t["centroids"].append(
                self.spark.createDataFrame(
                    [{"centroid_id": seed_id, "category_id": category_id,
                      "vector": first[0]}],
                    _SCHEMAS["centroids"],
                )
            )
            cents = [(seed_id, first[0])]

        # nearest-centroid assignment (server/upload.go:239-245, J5/V3)
        assigned = assign_nearest_mat(
            chunks,
            [(int(c), np.asarray(v, dtype=np.float64)) for c, v in cents],
            vec_col="vector",
            out_col="centroid_id",
        )

        base_emb = self._next_id("embeddings", "embedding_id")
        new_emb = assign_embedding_ids(
            assigned, base_emb, base_doc, stride=max(map(len, doc_chunks))
        ).select(
            "embedding_id",
            F.col("doc_id").alias("document_id"),
            "centroid_id",
            "codes",
            "lo",
            "hi",
        )
        # pure appends: existing data is carried over by manifest
        # reference — an upload writes only its own rows, the
        # INSERT-shaped write path of server/upload.go:288-304.
        # DOCUMENTS COMMIT FIRST: a crash between the two appends then
        # leaves zombie documents with no vectors — hydratable,
        # deletable, merely unsearchable — and the next upload's
        # _next_id sees the advanced documents max. The reverse order
        # left orphan embeddings whose document_ids the NEXT upload
        # re-allocated to unrelated documents: old vectors permanently
        # aliased onto new content, with no repair path (the delete
        # cascade verifies victims against the documents table and
        # could never reach them).
        self.t["documents"].append(new_docs)
        self.t["embeddings"].append(new_emb)
        chunks.unpersist()
        self._invalidate_cache()  # owner/category/centroids may have changed
        # a category WITH a text index stays hybrid-consistent without
        # manual maintenance: the new documents' postings append
        # incrementally (the lexical twin of the upload's incremental
        # centroid assignment); categories without one pay nothing
        if os.path.exists(f"{self._text_index_path(category_id)}/VERSION"):
            self.append_text_index(owner, category, ids)
        # same contract for the near-dup band index (regardless of the
        # neardup mode: an indexed category stays checkable after plain
        # uploads too)
        if os.path.exists(f"{self._neardup_path(category_id)}/VERSION"):
            self.append_neardup_index(owner, category, ids)
        if neardup == "skip" and (dup_of or dup_of_ix):
            # positional result: survivors get their fresh ids; skipped
            # slots resolve to the id they duplicated (store id, or the
            # fresh id of the earlier in-batch survivor)
            new_id_of_ix = dict(zip(survivors, ids))
            out = []
            for ix in range(len(survivors) + len(dup_of) + len(dup_of_ix)):
                if ix in dup_of:
                    out.append(dup_of[ix])
                elif ix in dup_of_ix:
                    # dup_of_ix targets survivors only (construction)
                    out.append(new_id_of_ix[dup_of_ix[ix]])
                else:
                    out.append(new_id_of_ix[ix])
            return out
        return ids

    # -- search (server/search.go:115-334) ---------------------------------
    def search(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        where=None,
    ) -> DataFrame:
        """Vector search (server/search.go:115-334). ``where`` — an
        optional Column predicate over the documents table — PRE-filters
        the probed scan through a doc-id semi-join (same contract as
        :meth:`search_hybrid` and plans/ivf.ivf_search(where=)): the
        page holds ``count`` matching documents whenever that many
        matches exist in the probed lists."""
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:  # missing owner/category -> empty result
            return self._page_frame([])  # (server/search.go:156-177)
        allowed = None if where is None else self._allowed_docs(scope, where)
        qtext = f"{SEARCH_QUERY_PREFIX}{text}"
        qvec = self._embed_query(qtext)
        topk = self._vector_topk(scope, qvec, count + offset, nprobe, allowed=allowed)
        if topk is None:
            return self._page_frame([])
        # collect the full top-(count+offset) once; the page is a local
        # slice (brute_force_topk already emitted the exact total order)
        # and the widening loop merges against these rows
        top_rows = topk.collect()
        page_rows = top_rows[offset : offset + count]
        # adaptive probe widening under a predicate (the serving twin of
        # plans/ivf.ivf_search_adaptive): a selective where= can thin
        # the probed lists below a full page while matches sit in
        # unprobed lists — double nprobe until the page fills or the
        # probe set is exhausted. INCREMENTAL (r6): each round scores
        # only the newly added lists and merges driver-side
        # (_widen_vector_rows — exact, not an approximation). The fill
        # target is clamped to |allowed| — computed LAZILY, only when
        # the first page underfills — so a predicate with fewer than
        # count matches in total stops the loop as soon as every
        # existing match is found. Like every stop-on-fill ANN loop,
        # scores of matches found in the last widening step are
        # probe-limited (the doc is present; a better-scoring chunk of
        # it may sit in an unprobed list) — identical semantics across
        # search/search_many/search_hybrid. Without a predicate the
        # reference semantics (fixed nprobe) stand.
        if where is not None and len(page_rows) < count:
            n_cent = len(self._category_centroids(scope))
            target = min(count, max(0, allowed.count() - offset))
            if len(page_rows) < target and nprobe < n_cent:
                merged = self._widen_vector_rows(
                    scope, qvec, count + offset, nprobe, allowed,
                    first_rows=top_rows, needed=offset + target,
                )
                page_rows = topk_paginated(merged, count, offset).collect()
        return self._hydrate(page_rows, scope)

    def search_many(
        self,
        owner: str,
        category: str,
        texts: list[str],
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        where=None,
    ) -> DataFrame:
        """Batched search: N query texts answered with ONE embed call
        and ONE Spark plan (engine extension; the reference serves one
        request per HTTP call). Returns (q_ix, document_id, name,
        external_id, payload_json, score) where ``q_ix`` indexes into
        ``texts``; per-query pages match :meth:`search` exactly
        (same probe ranking, scoring, dedup-by-document, (round-6
        desc, id asc) order and ``offset`` pagination — asserted in
        tests). ``where`` pre-filters
        the probed scan exactly like :meth:`search`'s (shared allowed
        semi-join), including the adaptive probe widening: after the
        fused pass, ONLY the underfilled queries (page < count rows,
        with count clamped to |allowed| — a selective predicate may not
        have count matches in total) re-probe with doubled nprobe, so
        batched filtered pages match the single form's
        ``search(where=)`` pages and the extra work stays
        Σ-probed-lists of the underfilled subset.

        Shape (plans/ivf.ivf_search_batch applied to the managed
        store): all texts embed in one provider round-trip (the upload
        path already batches, server/upload.go:134-152); probe ranking
        runs driver-side per query over the TTL-cached centroid set;
        the UNION of probed lists is read once (manifest-pruned) and
        the (q_ix, qvec, centroid) probe frame broadcasts into it, so
        a chunk is scored once per query probing its list — candidate
        work = Σ_q |probed lists of q|, never N × corpus. One shuffle:
        the per-query dedup + top-k."""
        from pyspark.sql import Window

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._page_frame([], batched=True)
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        best = self._vector_best_many(scope, qvecs, nprobe, where)
        if best is None:
            return self._page_frame([], batched=True)
        w = Window.partitionBy("q_ix").orderBy(
            F.desc(F.round("score", 6)), F.asc("document_id")
        )

        def _page(frame: DataFrame) -> list:
            return (
                frame.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") > offset) & (F.col("_rn") <= count + offset))
                .select("q_ix", "document_id", "score", "_rn")
                .collect()
            )

        page_rows = _page(best)
        if where is not None:
            # adaptive widening, restricted to the underfilled queries
            # (the batch twin of search()'s loop — same clamp, same
            # probe-limited-score caveat, so both forms page
            # identically): target clamped to |allowed| so a predicate
            # with fewer than count matches in total stops the loop as
            # soon as every existing match is found, instead of
            # escalating to probing all centroids. The |allowed| count
            # job runs LAZILY — only when some query actually
            # underfilled, so the common filled-first-pass request pays
            # nothing extra.
            from collections import Counter

            n_cent = len(self._category_centroids(scope))
            filled = Counter(r["q_ix"] for r in page_rows)
            under = [ix for ix in range(len(texts)) if filled[ix] < count]
            if under:
                allowed_n = self._allowed_docs(scope, where).count()
                target = min(count, max(0, allowed_n - offset))
                under = [ix for ix in under if filled[ix] < target]
            cur = nprobe
            while under and cur < n_cent:
                cur = min(cur * 2, n_cent)
                sub = self._vector_best_many(
                    scope,
                    [qvecs[i] for i in under],
                    cur,
                    where,
                    q_ixs=under,
                )
                if sub is None:
                    break
                sub_rows = _page(sub)
                under_set = set(under)
                page_rows = [
                    r for r in page_rows if r["q_ix"] not in under_set
                ] + sub_rows
                filled = Counter(r["q_ix"] for r in sub_rows)
                under = [ix for ix in under if filled[ix] < target]
        return self._hydrate(page_rows, scope, batched=True)

    def _allowed_docs(self, scope: int, where) -> DataFrame:
        """The category-scoped allowed-document frame for a ``where``
        predicate — the one definition of the pre-filter every search
        path semi-joins (document_id only; caller-sized, AQE decides
        broadcast)."""
        return (
            self.t["documents"]
            .read()
            .filter(F.col("category_id") == scope)
            .filter(where)
            .select("document_id")
        )

    def _vector_best_many(
        self,
        scope: int,
        qvecs: list,
        nprobe: int,
        where=None,
        q_ixs: list[int] | None = None,
    ) -> DataFrame | None:
        """Batched vector scoring core: per-query best-chunk-per-
        document frame (q_ix, document_id, score) over the UNION of
        probed lists (one manifest-pruned read; the probe frame
        broadcasts in so a chunk scores once per query probing its
        list). None when no probes (empty category). ``q_ixs`` relabels
        the output q_ix values (the widening re-probe passes only the
        underfilled subset but keeps the original indices)."""
        cents = self._category_centroids(scope)
        labels = list(range(len(qvecs))) if q_ixs is None else list(q_ixs)
        probe_rows = [
            (ix, [float(x) for x in qv], int(cid))
            for ix, qv in zip(labels, qvecs)
            for cid in _rank_probe_ids(cents, qv, nprobe)
        ]
        if not probe_rows:
            return None
        probe = self.spark.createDataFrame(
            probe_rows, "q_ix long, _qvec array<double>, centroid_id long"
        )
        all_probed = sorted({r[2] for r in probe_rows})
        from go_vectorsearch_spark.functions.vector import cosine_similarity

        raw = (
            self.t["embeddings"]
            .read(partition_values=all_probed)
            .filter(F.col("centroid_id").isin(all_probed))
        )
        if where is not None:
            raw = raw.join(
                self._allowed_docs(scope, where), "document_id", "left_semi"
            )
        emb = dequantized_vector(raw)
        scored = emb.join(F.broadcast(probe), "centroid_id").withColumn(
            "_s", cosine_similarity(F.col("vector"), F.col("_qvec"))
        )
        return scored.groupBy("q_ix", "document_id").agg(
            F.max("_s").alias("score")
        )

    def search_many_hybrid(
        self,
        owner: str,
        category: str,
        texts: list[str],
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        fuse_depth: int = 60,
        rrf_c: int = 60,
    ) -> DataFrame:
        """Batched hybrid search: N query texts fused (vector + BM25 by
        RRF) in ONE embed call and one plan per leg — the batch form of
        :meth:`search_hybrid`, per-query pages identical to it (tested).

        The vector leg reuses the batched probe core
        (:meth:`_vector_best_many`); the lexical leg scores ALL queries
        against ONE postings scan pruned to the union of every query's
        term buckets, with a broadcast (q_ix, term) frame fanning each
        posting to the queries that contain its term — per-term idf/df
        and the corpus scalars are identical to the single-query
        scorer, so scores match bm25_search_stored exactly. Fusion
        ranks per (leg, q_ix) with partitioned windows over the two
        bounded top-fuse_depth frames and sums 1/(c + rank)."""
        import re as _re

        from pyspark.sql import Window

        from go_vectorsearch_spark.operators.fulltext import (
            TOKEN_SPLIT_RE,
            read_postings,
        )

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._page_frame([], batched=True)
        path = self._text_index_path(scope)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"search_many_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        cut = Window.partitionBy("q_ix").orderBy(
            F.desc(F.round("score", 6)), F.asc("document_id")
        )

        # -- lexical leg: one pruned scan for every query, scored by
        # the SHARED batched BM25 core (fulltext.bm25_score_many reuses
        # bm25_search's idf/contribution definitions, so a tuning change
        # to the canonical scorer reaches this path by construction) --
        from go_vectorsearch_spark.operators.fulltext import (
            bm25_score_many,
            bucket_pruned,
        )

        index, n_buckets = read_postings(self.spark, path)
        q_terms = [
            sorted({t for t in _re.split(TOKEN_SPLIT_RE, t.lower()) if t})
            for t in texts
        ]
        all_terms = sorted({t for ts in q_terms for t in ts})
        legs = []
        scored = (
            bm25_score_many(
                self.spark, bucket_pruned(index, n_buckets, all_terms), q_terms
            )
            if all_terms
            else None
        )
        if scored is not None:
            lex = (
                scored.withColumnRenamed("doc_id", "document_id")
                .withColumn("_rn", F.row_number().over(cut))
                .filter(F.col("_rn") <= fuse_depth)
                .select("q_ix", "document_id", "score")
            )
            legs.append(lex)

        # -- vector leg ---------------------------------------------------
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        best = self._vector_best_many(scope, qvecs, nprobe)
        if best is not None:
            legs.append(
                best.withColumn("_rn", F.row_number().over(cut))
                .filter(F.col("_rn") <= fuse_depth)
                .select("q_ix", "document_id", "score")
            )
        if not legs:
            return self._page_frame([], batched=True)

        # -- fusion: rank per (leg, q_ix), sum 1/(c + rank) ---------------
        tagged = []
        for leg_ix, leg in enumerate(legs):
            wl = Window.partitionBy("q_ix").orderBy(
                F.desc(F.round("score", 6)), F.asc("document_id")
            )
            tagged.append(
                leg.withColumn("_rank", F.row_number().over(wl)).select(
                    "q_ix",
                    "document_id",
                    (1.0 / (F.lit(rrf_c) + F.col("_rank"))).alias("_rrf"),
                )
            )
        allr = tagged[0]
        for t in tagged[1:]:
            allr = allr.unionByName(t)
        fused_rows = (
            allr.groupBy("q_ix", "document_id")
            .agg(F.sum("_rrf").alias("score"))
            .withColumn("_rn", F.row_number().over(cut))
            .filter(F.col("_rn") <= count + offset)
            .select("q_ix", "document_id", "score", "_rn")
            .collect()
        )
        page_rows = [r for r in fused_rows if r["_rn"] > offset]
        return self._hydrate(page_rows, scope, batched=True)

    def _embed_once_failover(self, qtexts: list[str]):
        """embed_texts_once across the provider's api_bases IN ORDER —
        the serving read path gets the same endpoint failover the
        upload path's rotation gives (sources/embed_http): without it a
        dead first endpoint failed every search while uploads kept
        working. The first base that answers wins; only when every base
        errors does the request fail (with the last error)."""
        from go_vectorsearch_spark.sources.embed_http import embed_texts_once

        last: Exception | None = None
        for base in self.provider.api_bases:
            try:
                return embed_texts_once(
                    base,
                    qtexts,
                    self.provider.model,
                    num_ctx=self.provider.num_ctx,
                    token=self.provider.token,
                    path=self.provider.embed_path,
                )
            except (OSError, RuntimeError) as e:  # dead endpoint / bad gateway
                last = e
        raise last

    def _embed_queries(self, qtexts: list[str]) -> list[list[float]]:
        """All query vectors in ONE provider round-trip (the batch form
        of :meth:`_embed_query` — same request shape, same
        quantize-at-decode round-trip per vector)."""
        if not self.provider:
            return [noop_embed_text(t, dim=self.embed_dim) for t in qtexts]
        import numpy as np

        codes, lo, hi = self._embed_once_failover(qtexts)
        span = (hi.astype(np.float32) - lo.astype(np.float32)).astype(np.float32)
        deq = (
            lo.astype(np.float32)[:, None]
            + codes.astype(np.float32) / np.float32(255.0) * span[:, None]
        )
        return [row.astype(float).tolist() for row in deq]

    def _widen_vector_rows(
        self,
        scope: int,
        qvec: list,
        n: int,
        nprobe: int,
        allowed: DataFrame,
        first_rows: list,
        needed: int,
    ) -> DataFrame:
        """INCREMENTAL probe widening shared by search()/search_hybrid():
        the full centroid ranking is computed once (driver-side, cached
        set); each doubling round scores ONLY the newly added inverted
        lists and merges driver-side by per-document max — exact,
        because the global best-chunk score is the max of per-round
        partials and top-n(A∪B) = top-n(top-n(A) ∪ top-n(B)) under the
        (round-6 desc, id asc) order both cuts use. The old loop
        re-scanned and re-scored every already-probed list each round,
        multiplying scan I/O by log2(n_cent) on the latency path.
        Stops when ``needed`` documents are found or every list is
        probed; returns the merged (document_id, score) candidates as a
        small DataFrame so the FINAL page ordering runs in Spark (same
        HALF_UP rounding as every other page)."""
        ranked = _rank_probe_ids(
            self._category_centroids(scope),
            qvec,
            len(self._category_centroids(scope)),
        )
        merged: dict[int, float] = {}
        for r in first_rows:
            d, s = int(r["document_id"]), float(r["score"])
            if d not in merged or s > merged[d]:
                merged[d] = s
        prev = min(max(nprobe, 1), len(ranked))
        while len(merged) < needed and prev < len(ranked):
            nxt = min(prev * 2, len(ranked))
            sub = self._vector_topk(
                scope, qvec, n, nprobe=0,
                allowed=allowed, probe_ids=ranked[prev:nxt],
            )
            if sub is not None:
                for r in sub.collect():
                    d, s = int(r["document_id"]), float(r["score"])
                    if d not in merged or s > merged[d]:
                        merged[d] = s
            prev = nxt
        if not merged:
            return self.spark.createDataFrame([], "document_id long, score double")
        return self.spark.createDataFrame(
            sorted(merged.items()), "document_id long, score double"
        )

    def _vector_topk(
        self,
        scope: int,
        qvec: list,
        n: int,
        nprobe: int,
        allowed: DataFrame | None = None,
        probe_ids: list[int] | None = None,
        with_vector: bool = False,
    ) -> DataFrame | None:
        """Document-level vector top-n for a category, or None when no
        centroid probes (empty category).

        T1 centroid pruning runs DRIVER-SIDE over the TTL-cached
        centroid set — exactly the reference's in-process V2 cosine
        over cached centroids (server/search.go:202-227). With the
        query embedded in-process too (noop, or one HTTP call), a
        repeat search launches zero Spark jobs before the probed scan.
        ``probe_ids`` overrides the ranking with an explicit list set —
        the incremental widening loop passes only the NEWLY added
        lists of each round."""
        if probe_ids is None:
            probe_ids = _rank_probe_ids(
                self._category_centroids(scope), qvec, nprobe
            )
        if not probe_ids:
            return None
        # probed partitions only — pruned at the MANIFEST level, so the
        # unprobed inverted lists are never even listed; scoring
        # dequantizes the stored codes inside the cosine expression
        # (no float table ever materialized)
        raw = (
            self.t["embeddings"]
            .read(partition_values=probe_ids)
            .filter(F.col("centroid_id").isin(probe_ids))  # belt-and-braces
        )
        if allowed is not None:
            # PRE-filter (plans/ivf.ivf_search(where=) semantics): only
            # allowed documents' chunks are scored, so the top-n holds n
            # allowed docs. Allowed set is caller-sized — no broadcast
            # hint, AQE decides.
            raw = raw.join(
                allowed.select("document_id"), "document_id", "left_semi"
            )
        emb = dequantized_vector(raw)
        if with_vector:
            return brute_force_topk_with_vector(
                emb, qvec, n, id_col="embedding_id",
                vec_col="vector", doc_col="document_id",
            )
        return brute_force_topk(
            emb, qvec, n, id_col="embedding_id",
            vec_col="vector", doc_col="document_id",
        )

    def search_diverse(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        mmr_lambda: float = 0.5,
        pool: int = 50,
        where=None,
    ) -> DataFrame:
        """Diversified vector search: Maximal Marginal Relevance re-rank
        (Carbonell & Goldstein 1998) of a top-``pool`` candidate set —
        the page trades pure relevance for coverage, so a corpus with
        many near-identical top hits doesn't fill the page with copies.

        ``mmr_lambda`` in [0, 1]: 1 = pure relevance (reproduces
        :meth:`search`'s ranking exactly, pool permitting), 0 = pure
        diversity. The reported ``score`` stays the ORIGINAL cosine
        relevance (the page's order, not its scores, is what MMR
        changes); the page order is the MMR selection order.

        Plan shape: the distributed part is identical to :meth:`search`
        (probed manifest-pruned scan -> per-document max -> TakeOrdered
        top-pool), except the candidate rows carry their best-chunk
        vector; the greedy MMR loop runs driver-side over the collected
        page-scale pool (see operators/search.mmr_select for why that
        is the right side of the boundary).
        """
        if not 0.0 <= mmr_lambda <= 1.0:
            raise ValueError(f"search_diverse: mmr_lambda {mmr_lambda} not in [0, 1]")
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        pool = max(int(pool), count + offset)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._page_frame([])
        allowed = None if where is None else self._allowed_docs(scope, where)
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        topk = self._vector_topk(
            scope, qvec, pool, nprobe, allowed=allowed, with_vector=True
        )
        if topk is None:
            return self._page_frame([])
        rows = topk.collect()
        # filtered underfill: like search()'s adaptive widening, a
        # selective where= can thin the probed lists below the pool
        # while matches sit in unprobed lists. The pool is a candidate
        # set (not a page), so one escalation to nprobe=all replaces
        # the incremental loop — exact scores, same worst case as the
        # loop's final doubling, and only under a predicate.
        if where is not None and len(rows) < pool:
            n_cent = len(self._category_centroids(scope))
            if len(rows) < min(pool, allowed.count()) and nprobe < n_cent:
                rows = self._vector_topk(
                    scope, qvec, pool, 2**31 - 1, allowed=allowed,
                    with_vector=True,
                ).collect()
        # rel = round(score, 6): the engine's ranking precision
        # everywhere (brute_force_topk, pagination, hydration), so
        # lambda=1 reproduces search()'s order INCLUDING its rounded-tie
        # id ascending resolution (the pool arrives in that order and
        # argmax keeps the first max). Reported scores stay raw.
        picks = mmr_select(
            [round(r["score"], 6) for r in rows],
            [r["vector"] for r in rows],
            count + offset,
            mmr_lambda,
        )
        page = [rows[i] for i in picks[offset : offset + count]]
        return self._hydrate(page, scope)

    def _hydrate(
        self, page_rows: list, scope: int, batched: bool = False
    ) -> DataFrame:
        """Hydrate a collected, ranked page of (document_id, score) rows
        — plus (q_ix, _rn) when ``batched`` — into the search result.

        The reference collects the page's ids and hydrates them with a
        separate point query (server/search.go:285-308); so does this:
        one documents scan pruned at the manifest level to the page
        ids' HASH BUCKETS and filtered to the ids and the category is
        collected (one job) and joined to the page on the driver. The
        rows keep the caller's order, which is already the rank: Spark's
        (round(score, 6) desc, id asc) top-k order, the MMR selection
        order, or per query the ``_rn`` a batched page is sorted by. A
        page id whose document was deleted after the top-k is dropped.
        """
        if not page_rows:
            return self._page_frame([], batched)
        if batched:
            page_rows = sorted(page_rows, key=lambda r: (r["q_ix"], r["_rn"]))
        ids = sorted({int(r["document_id"]) for r in page_rows})
        docs = {
            d["document_id"]: d
            for d in self.t["documents"]
            .read(partition_values=sorted({i % N_DOC_BUCKETS for i in ids}))
            .filter(F.col("document_id").isin(ids) & (F.col("category_id") == scope))
            .select("document_id", "name", "external_id", "payload_json")
            .collect()
        }
        return self._page_frame(
            [
                ((r["q_ix"],) if batched else ()) + tuple(d) + (float(r["score"]),)
                for r in page_rows
                if (d := docs.get(r["document_id"])) is not None
            ],
            batched,
        )

    def _page_frame(self, rows: list[tuple], batched: bool = False) -> DataFrame:
        """A search result (``q_ix`` first when ``batched``) as a
        :func:`_local_frame`, so its collect() runs no job."""
        import pyarrow as pa

        schema = pa.schema(
            ([("q_ix", pa.int64())] if batched else [])
            + [
                ("document_id", pa.int64()),
                ("name", pa.string()),
                ("external_id", pa.string()),
                ("payload_json", pa.string()),
                ("score", pa.float64()),
            ]
        )
        return _local_frame(self.spark, schema, rows)

    # -- hybrid retrieval (engine extension beyond the reference) ----------
    def _text_index_path(self, cid: int) -> str:
        return f"{self.root}/text_index/{cid}"

    def build_text_index(
        self, owner: str, category: str, n_buckets: int = 64
    ) -> int:
        """Build (or rebuild) the category's BM25 postings store over
        the documents' flattened payload text — the lexical twin of
        refresh_index: explicit, amortized, background-shaped. Returns
        the number of indexed documents.

        The indexed text is the SAME flatten(payload_json) the chunker
        embeds (operators/documents.flatten, upload.go:174-186), so
        lexical and vector retrieval see one view of the document."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf
        from go_vectorsearch_spark.operators.fulltext import (
            build_bm25_index,
            write_postings,
        )

        from go_vectorsearch_spark.operators.fulltext import (
            ConcurrentWriteError,
            _store_version,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"build_text_index: unknown {owner}/{category}")
        path = self._text_index_path(cid)
        # the corpus snapshot is read outside the store lock, so the
        # commit is version-guarded: a streaming epoch landing between
        # snapshot and commit would otherwise be erased while its
        # applied-key survived (silently-skipped replay = permanent
        # loss). On conflict, re-snapshot — the interleaved epoch's
        # documents are then inside the corpus — and retry.
        for _attempt in range(5):
            base_v = _store_version(path)
            docs = (
                self.t["documents"]
                .read()
                .filter(F.col("category_id") == cid)
                .select(
                    "document_id",
                    flatten_json_udf(F.col("payload_json")).alias("_text"),
                )
            )
            index = build_bm25_index(docs, id_col="document_id", text_col="_text")
            try:
                write_postings(
                    index, path, n_buckets=n_buckets, base_version=base_v
                )
                break
            except ConcurrentWriteError:
                continue
        else:
            raise RuntimeError(
                f"build_text_index: could not commit {owner}/{category} "
                "after 5 attempts (concurrent appends kept landing)"
            )
        # retention mirrors the versioned tables: keep the previous
        # version's batches for in-flight lock-free readers, reclaim
        # anything older — with the SAME 5-minute serving grace the
        # tables use (vacuum_min_age_s), so even several back-to-back
        # rebuilds never delete files under a reader that resolved its
        # manifest and is still mid-scan
        from go_vectorsearch_spark.operators.fulltext import vacuum_postings

        vacuum_postings(path, keep_versions=2, min_age_s=300.0)
        return index.n_docs

    def append_text_index(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Incrementally index newly uploaded documents: their postings
        APPEND into the existing bucketed store (untouched bucket files
        carry as-is) and the corpus scalars merge exactly, so the grown
        store scores bit-identically to a full rebuild — the upload
        path's partition-scoped-append discipline applied to the text
        index. The documents read prunes to the ids' hash buckets at
        the manifest level, like search hydration. :meth:`upload` calls
        this automatically for categories whose index exists — callers
        only need it when indexing pre-existing data."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf
        from go_vectorsearch_spark.operators.fulltext import (
            append_postings,
            build_bm25_index,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_text_index: unknown {owner}/{category}")
        path = self._text_index_path(cid)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"append_text_index: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        if not document_ids:
            return 0
        docs = (
            self.t["documents"]
            .read(
                partition_values=sorted(
                    {i % N_DOC_BUCKETS for i in document_ids}
                )
            )
            .filter(
                F.col("document_id").isin(list(document_ids))
                & (F.col("category_id") == cid)
            )
            .select(
                "document_id",
                flatten_json_udf(F.col("payload_json")).alias("_text"),
            )
        )
        delta = build_bm25_index(docs, id_col="document_id", text_col="_text")
        append_postings(delta, path)
        return delta.n_docs

    # -- incremental ingest near-dup index (engine extension) ---------------
    #
    # At 100 TB the dominant dedup cost is NOT the first full-corpus
    # MinHash pass — it is re-running it on every ingest. The persisted
    # band index makes ingest-time near-dup INCREMENTAL: adding 1 TB to
    # a 100 TB corpus compares the new documents only against the LSH
    # buckets they collide with (a manifest-pruned read of the band
    # store), never against the corpus. Same banding constants as
    # operators/dedup.minhash_lsh_pairs, so stored and in-flight keys
    # are interchangeable by construction.
    #
    # Layout mirrors the text index: one versioned band table per
    # category under <root>/neardup_index/<cid>, partitioned by a hash
    # bucket of the band key so a check's read prunes to the incoming
    # batch's buckets. Rows are (document_id, band, key) — 4 short rows
    # per document; signatures and shingles are NOT stored (verification
    # re-derives them from the live documents of the candidate set only,
    # which also makes rows of deleted documents self-healing: the
    # verify join against the documents table simply drops them).

    def _neardup_table(self, cid: int) -> _VersionedTable:
        return _VersionedTable(
            self.spark,
            f"{self.root}/neardup_index",
            str(cid),
            "document_id long, band int, key string",
            vacuum_min_age_s=300.0,
            # conv(), not CAST('0x..'): ANSI mode rejects the 0x string
            partition_expr=(
                "pmod(CAST(conv(substr(key, 1, 8), 16, 10) AS BIGINT), "
                f"{N_BAND_BUCKETS})"
            ),
        )

    def _neardup_path(self, cid: int) -> str:
        return f"{self.root}/neardup_index/{cid}"

    def _doc_band_rows(self, docs: DataFrame, id_col: str) -> DataFrame:
        """(id_col, band, key) LSH band rows of a (id, _text) frame."""
        from go_vectorsearch_spark.operators import dedup as DD

        return self._doc_band_rows_from_shingled(
            DD.shingled_docs(docs, id_col=id_col, text_col="_text"), id_col
        )

    def _category_doc_texts(
        self,
        cid: int,
        document_ids: list[int] | DataFrame | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """(document_id, _text) of a category via the SAME
        flatten(payload_json) every other text consumer sees. An id LIST
        prunes the read to the ids' hash buckets at the manifest level
        (the point-lookup shape, bounded driver literals); an id FRAME
        semi-joins instead — the bulk shape, no O(ids) driver
        materialization — optionally pruned by a precomputed ``buckets``
        list (bounded by N_DOC_BUCKETS regardless of id count)."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf

        if document_ids is None:
            base = self.t["documents"].read()
        elif isinstance(document_ids, DataFrame):
            base = self.t["documents"].read(partition_values=buckets).join(
                document_ids.select("document_id"), "document_id", "left_semi"
            )
        else:
            base = self.t["documents"].read(
                partition_values=sorted(
                    {i % N_DOC_BUCKETS for i in document_ids}
                )
            ).filter(F.col("document_id").isin(list(document_ids)))
        return base.filter(F.col("category_id") == cid).select(
            "document_id", flatten_json_udf(F.col("payload_json")).alias("_text")
        )

    def substr_dedup_report(
        self, owner: str, category: str, L: int = 8
    ) -> DataFrame:
        """Exact-substring duplication report over a stored category:
        per-document (document_id, n_spans, dup_tokens, n_dup_windows)
        for every document containing a duplicated >= L-token passage
        (operators/substr.exact_substr_stats over the same
        flatten(payload_json) every other text consumer sees)."""
        from go_vectorsearch_spark.operators import substr as SUB

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"substr_dedup_report: unknown {owner}/{category}")
        # the duplicate-set plan references the window frame TWICE (hash
        # aggregate + join-back) — unshared, the flatten pandas UDF +
        # tokenize + md5 would run twice over the category. Persisted
        # here; a bulk-analysis frame, reclaimed by the ContextCleaner
        # when the returned report is dropped.
        windows = SUB.window_hashes(
            self._category_doc_texts(cid),
            L=L,
            id_col="document_id",
            text_col="_text",
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        return SUB.exact_substr_stats(
            self._category_doc_texts(cid),
            L=L,
            id_col="document_id",
            text_col="_text",
            windows=windows,
        )

    def substr_dedup_cut(
        self,
        owner: str,
        category: str,
        L: int = 8,
        iterate: int = 1,
        re_embed: bool = False,
    ) -> int:
        """Apply exact-substring dedup CUTS to a stored category — the
        write-path complement of :meth:`substr_dedup_report`, shaped
        like delete/compact: only documents that actually change are
        rewritten, through the documents table's partition-scoped
        upsert; untouched documents (and untouched partitions) carry
        by reference, byte-for-byte.

        ``iterate`` > 1 re-checks cut-created token adjacencies to a
        fixpoint (operators/substr.exact_substr_cut). A cut document's
        payload becomes the JSON string literal of its cleaned flattened
        text, format-normalized before storage — token-level surgery
        cannot preserve arbitrary JSON structure, and the round-trip is
        exact: flatten(new payload) IS the stored text every text
        consumer sees. Each fixpoint pass runs over STORAGE-NORMALIZED
        text (normalize → re-window → cut, via the cut's ``normalize``
        hook): a cut that removes a document's final period-bearing
        token re-normalizes the new last token INSIDE the loop, so the
        window it creates is seen and cut before convergence — a
        converged fixpoint (iterate high enough that a pass changes
        nothing) leaves zero flaggable windows for
        :meth:`substr_dedup_report`. At iterate=1 the Lee et al.
        single-pass gap remains, as documented there.

        Derived-store consistency, same contract as delete_documents:
        the text index tombstones the old postings (exact dls from the
        pre-cut text) and appends the re-tokenized documents; the
        near-dup band store rewrites the changed documents' band rows
        under its cross-process lock. By default EMBEDDINGS keep
        serving the pre-cut content (re-embedding is a model call);
        ``re_embed=True`` swaps the changed documents' embedding rows
        for fresh ones derived from the cut text in one atomic commit
        (see :meth:`_rewrite_category_texts`). Returns the number of
        rewritten documents."""
        from go_vectorsearch_spark.operators import substr as SUB

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"substr_dedup_cut: unknown {owner}/{category}")
        # ONE flatten pass per cut call: texts is referenced by the
        # window hashing, the token-filter rebuild AND the change
        # detection — unpersisted, the flatten pandas UDF would scan
        # the category three times (the registry's shared-frame
        # discipline applied to the Engine). The window frame persists
        # too: the duplicate-flags aggregate + join-back both read it
        # (the substr_dedup_report pattern).
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        windows = SUB.window_hashes(
            texts, L=L, id_col="document_id", text_col="_text"
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        from go_vectorsearch_spark.operators.documents import (
            _format_rejoined_string,
            format_rejoined_text,
        )

        try:
            cut = SUB.exact_substr_cut(
                texts,
                L=L,
                id_col="document_id",
                text_col="_text",
                iterate=iterate,
                windows=windows,
                normalize=format_rejoined_text,
                # the pinned scalar twin — enables the fixpoint's
                # adaptive driver-local path for driver-sized
                # categories (the k-means build precedent)
                normalize_py=_format_rejoined_string,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            windows.unpersist()
            texts.unpersist()

    def _rewrite_category_texts(
        self,
        owner: str,
        category: str,
        cid: int,
        cut: DataFrame,
        texts: DataFrame,
        re_embed: bool = False,
    ) -> int:
        """Apply a cleaned-text frame (document_id, text) to a stored
        category — the shared write machinery of :meth:`substr_dedup_cut`
        and :meth:`decontaminate_cut`: detect changed documents against
        the current flattened texts, rewrite ONLY them through the
        partition-scoped upsert (payload = JSON string literal of the
        cleaned text), and keep the text index and band store consistent.

        ``re_embed=True`` additionally re-runs the upload path's
        chunk → embed → quantize → assign stages for the changed
        documents and swaps their embedding rows in ONE atomic
        replace_partitions commit (survivors of the touched centroid
        partitions + the fresh rows) — vector search then serves the cut
        content instead of the pre-cut embeddings. Costs one embed call
        per changed chunk; assignment reuses the category's existing
        centroids (run refresh_index after bulk cuts if drift matters).

        Scale shape: the CHANGED set stays a DataFrame end-to-end. The
        only driver-side materializations are bounded regardless of how
        many documents a cut touches — the distinct bucket keys
        (≤ N_DOC_BUCKETS), the touched centroid partitions, and one
        min-id scalar. At or below :data:`BULK_REWRITE_CAP` changed
        documents the derived stores take the point-delete route
        (manifest tombstones + pruned isin literals — the right shape
        for a targeted cut); above it the text index REBUILDS over the
        cut snapshot (a whole-corpus cut changes a constant fraction of
        documents, so the rebuild is proportional work and scores
        bit-identically to tombstone + compact + append) and the band
        store rewrite anti-joins the changed frame. Cleaned text is
        :func:`~go_vectorsearch_spark.operators.documents.format_text_udf`
        normalized before storage, so flatten(new payload) round-trips
        to EXACTLY the stored text. Both cut callers also normalize
        INSIDE the cut itself (the ``normalize=format_rejoined_text``
        hook), so the frame arriving here already carries storage-form
        text and the UDF below is an idempotent final truth — the r9
        pre-normalization fixpoint caveat is closed at the source.
        Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators.documents import (
            format_text_udf,
            json_string_udf,
        )
        from go_vectorsearch_spark.operators.fulltext import tokenize

        # ``texts`` — the caller's persisted pre-cut flatten frame
        # (REQUIRED: the cut plan already references it, so change
        # detection rides the same cached pass; an optional fallback
        # would let a future caller silently lose the one-flatten-pass
        # guarantee)
        changed = (
            cut.join(texts, "document_id")
            .filter(F.col("text") != F.col("_text"))
            # _dl: the PRE-cut token count — the text-index tombstone
            # needs it to shrink the corpus stats exactly (the
            # delete_documents pattern). Computed on BOTH paths even
            # though only the point path reads it: which path runs is
            # known only after the count below, and deriving it later
            # would need the pre-upsert snapshot this frame is the last
            # holder of — one split over text already in flight, and a
            # single cached int per row
            .select(
                "document_id",
                format_text_udf(F.col("text")).alias("text"),
                F.size(tokenize(F.col("_text"))).alias("_dl"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        try:
            n_changed = int(changed.count())
            # the count above fully materialized `changed`, the only
            # consumer of the cut plan — release the fixpoint loop's
            # persisted frame (iterate>1 returns `cur` persisted; unpersist
            # on an uncached frame is a no-op)
            cut.unpersist()
            if n_changed == 0:
                return 0
            ids = changed.select("document_id")
            # bounded by N_DOC_BUCKETS no matter how many docs changed
            buckets = sorted(
                int(r[0])
                for r in ids.select(
                    F.pmod(F.col("document_id"), F.lit(N_DOC_BUCKETS)).alias("b")
                )
                .distinct()
                .collect()
            )
            small = n_changed <= BULK_REWRITE_CAP
            changed_ids = None
            dl_by_doc = None
            if small:
                meta = changed.select("document_id", "_dl").collect()
                changed_ids = sorted(r["document_id"] for r in meta)
                dl_by_doc = {r["document_id"]: int(r["_dl"]) for r in meta}
            upd = (
                self.t["documents"]
                .read(partition_values=buckets)
                .filter(F.col("category_id") == cid)
                .join(changed.select("document_id", "text"), "document_id")
                .select(
                    "document_id",
                    "name",
                    "external_id",
                    json_string_udf(F.col("text")).alias("payload_json"),
                    "category_id",
                )
            )
            self.t["documents"].upsert(upd, "document_id")
            if re_embed:
                self._re_embed_documents(
                    cid, ids, buckets, document_ids=changed_ids
                )
            # text index: below the cap, tombstone the pre-cut postings,
            # COMPACT (a tombstoned id stays hidden until compaction
            # clears the list — append alone would leave the
            # re-tokenized documents invisible), then append the changed
            # documents re-read from the NEW snapshot. Above the cap,
            # rebuild over the cut snapshot — proportional work for a
            # whole-corpus cut, id-list-free, and bit-identical scoring
            # either way.
            tpath = self._text_index_path(cid)
            if os.path.exists(f"{tpath}/VERSION"):
                from go_vectorsearch_spark.operators.fulltext import (
                    _store_manifest,
                    _store_version,
                    compact_postings,
                    delete_postings,
                )

                if small:
                    delete_postings(
                        self.spark, tpath, changed_ids, dl_by_doc=dl_by_doc
                    )
                    compact_postings(self.spark, tpath)
                    self.append_text_index(owner, category, changed_ids)
                else:
                    n_buckets = int(
                        _store_manifest(tpath, _store_version(tpath))[
                            "n_buckets"
                        ]
                    )
                    self.build_text_index(owner, category, n_buckets=n_buckets)
            # near-dup band store: the changed documents' band rows
            # derive from the text — rewrite exactly theirs under the
            # store's cross-process lock (the compact_neardup_index
            # discipline); the changed set joins as a frame, never as
            # an id literal
            if os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
                t = self._neardup_table(cid)
                with t._write_lock():
                    kept = t.read().join(ids, "document_id", "left_anti")
                    # buckets only with the frame shape — the id-list
                    # branch derives its own pruning set from the ids
                    fresh = self._doc_band_rows(
                        self._category_doc_texts(cid, changed_ids)
                        if small
                        else self._category_doc_texts(cid, ids, buckets=buckets),
                        "document_id",
                    )
                    t.write(kept.unionByName(fresh))
            self._invalidate_cache()
            return n_changed
        finally:
            changed.unpersist()

    def _re_embed_documents(
        self,
        cid: int,
        ids: DataFrame,
        buckets: list[int],
        document_ids: list[int] | None = None,
    ) -> None:
        """Swap the embedding rows of the ``ids`` frame's documents for
        fresh ones derived from their CURRENT payloads: the upload
        path's chunk → embed → quantize → assign stages over the new
        snapshot, committed with one atomic
        :meth:`_VersionedTable.replace_partitions` (touched centroid
        partitions lose the stale rows and gain the fresh assignments in
        the same version — no reader ever sees a document
        half-vectored).

        ``ids`` — a (document_id) frame, joined semi/anti into every
        scan; ``document_ids`` — the same set as a bounded list when
        the caller is below :data:`BULK_REWRITE_CAP` (pruned isin
        literals, the point shape). The only driver materializations
        are the touched centroid partitions (bounded by the category's
        centroid count) and one min-id scalar."""
        id_filter = (
            F.col("document_id").isin(list(document_ids))
            if document_ids is not None
            else None
        )
        docs = self.t["documents"].read(partition_values=buckets)
        if id_filter is not None:
            docs = docs.filter(id_filter)
        else:
            docs = docs.join(ids, "document_id", "left_semi")
        docs = docs.filter(F.col("category_id") == cid).select(
            F.col("document_id").alias("doc_id"),
            "name",
            "external_id",
            "payload_json",
        )
        chunks = dequantized_vector(
            self._embed_chunks(prepare_chunks(docs, ctx_num=2048))
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            cents = (
                self.t["centroids"].read().filter(F.col("category_id") == cid)
            )
            assigned = assign_nearest(
                chunks,
                cents.select(
                    F.col("centroid_id"), F.col("vector").alias("centroid_vec")
                ),
                vec_col="vector",
                out_col="centroid_id",
            )
            base_emb = self._next_id("embeddings", "embedding_id")
            # one scalar aggregate, not min() over a driver list
            base_doc = (
                min(document_ids)
                if document_ids is not None
                else int(ids.agg(F.min("document_id")).head()[0])
            )
            new_emb = assign_embedding_ids(assigned, base_emb, base_doc).select(
                "embedding_id",
                F.col("doc_id").alias("document_id"),
                "centroid_id",
                "codes",
                "lo",
                "hi",
            )
            emb_t = self.t["embeddings"]

            def _stale(df: DataFrame) -> DataFrame:
                if id_filter is not None:
                    return df.filter(id_filter)
                return df.join(ids, "document_id", "left_semi")

            def _live(df: DataFrame) -> DataFrame:
                if id_filter is not None:
                    return df.filter(~id_filter)
                return df.join(ids, "document_id", "left_anti")

            # bounded by the category's centroid count, not by |ids|
            touched = [
                r[0]
                for r in _stale(emb_t.read())
                .select("centroid_id")
                .distinct()
                .collect()
            ]
            if touched:
                survivors = _live(emb_t.read(partition_values=touched))
                emb_t.replace_partitions(
                    survivors.unionByName(new_emb), touched
                )
            else:
                emb_t.append(new_emb)
        finally:
            chunks.unpersist()

    def decontaminate_report(
        self, owner: str, category: str, benchmark_texts: list[str], L: int = 8
    ) -> DataFrame:
        """Benchmark-contamination report over a stored category: the
        exact verbatim >= L-token passages each stored document shares
        with any of ``benchmark_texts`` — (document_id, s_pos, e_pos,
        n_windows), token positions into the flattened text
        (operators/substr.contaminated_spans; the benchmark side
        broadcasts, the stored corpus never shuffles on window hash)."""
        from go_vectorsearch_spark.operators import substr as SUB
        from go_vectorsearch_spark.operators.documents import flatten

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"decontaminate_report: unknown {owner}/{category}")
        if not benchmark_texts:
            return self.spark.createDataFrame(
                [], "document_id long, s_pos int, e_pos int, n_windows long"
            )
        # SAME normalization on both sides: stored texts are
        # flatten(payload_json) (which e.g. appends a trailing period),
        # so raw benchmark strings must pass through flatten too —
        # otherwise an end-of-document verbatim quote loses its
        # final-token windows and an exactly-L-token quote at the end
        # of a document would be missed entirely
        bench = self.spark.createDataFrame(
            [(i, flatten(t)) for i, t in enumerate(benchmark_texts)],
            "b_ix long, _text string",
        )
        spans = SUB.contaminated_spans(
            self._category_doc_texts(cid),
            bench,
            L=L,
            id_col="document_id",
            text_col="_text",
            bench_id_col="b_ix",
            bench_text_col="_text",
        )
        return spans.select(
            F.col("_id").alias("document_id"), "s_pos", "e_pos", "n_windows"
        )

    def decontaminate_cut(
        self,
        owner: str,
        category: str,
        benchmark_texts: list[str],
        L: int = 8,
        re_embed: bool = False,
    ) -> int:
        """CUT every benchmark-contaminated span from a stored category —
        the write-path complement of :meth:`decontaminate_report`
        (operators/substr.decontaminate_cut: no keeper protection;
        contaminated text has no copy worth keeping). Same rewrite
        machinery and derived-store contract as :meth:`substr_dedup_cut`
        (partition-scoped upsert of changed documents only, text-index
        tombstone + compact + append, band-row rewrite); benchmark texts
        are flatten()-normalized like the stored side, so end-of-document
        quotes cut through their final period-bearing token. The cut's
        rebuilt text is storage-normalized inside the operator
        (``normalize=format_rejoined_text``), so a cut document's frame
        text IS its stored text — a report-after-cut sees exactly what
        the cut saw. Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators import substr as SUB
        from go_vectorsearch_spark.operators.documents import flatten

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"decontaminate_cut: unknown {owner}/{category}")
        if not benchmark_texts:
            return 0
        bench = self.spark.createDataFrame(
            [(i, flatten(t)) for i, t in enumerate(benchmark_texts)],
            "b_ix long, _text string",
        )
        # one flatten pass per cut call (see substr_dedup_cut): texts
        # feeds the window hashing, the rebuild and the change detection
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        from go_vectorsearch_spark.operators.documents import (
            format_rejoined_text,
        )

        try:
            cut = SUB.decontaminate_cut(
                texts,
                bench,
                L=L,
                id_col="document_id",
                text_col="_text",
                bench_id_col="b_ix",
                bench_text_col="_text",
                normalize=format_rejoined_text,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            texts.unpersist()

    def boilerplate_report(
        self, owner: str, category: str, min_df: int = 10
    ) -> DataFrame:
        """Corpus-level boilerplate-line report over a stored category
        (CCNet §4.1 at the serving layer): ``(line, n_docs)`` for every
        normalized line (lower + trim) appearing in at least ``min_df``
        DISTINCT stored documents — flatten() joins payload fields and
        list items with newlines, so "lines" here are the stored
        corpus's field/item granularity (shared footers, nav chrome,
        repeated disclaimers). Plan shape: the hot set is the operator's
        16-byte-hash aggregate (raw line text never shuffles to find
        it); only the HOT lines' text then survives a hash join out of
        a second scan into the tiny representative aggregate."""
        from go_vectorsearch_spark.operators.curation import (
            boilerplate_lines,
        )

        from go_vectorsearch_spark.operators.documents import (
            EMPTY_DOC_MARKER,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"boilerplate_report: unknown {owner}/{category}")
        if min_df < 2:
            # min_df=1 marks EVERY line hot (each line trivially appears
            # in >= 1 document) — the service route rejected this but a
            # direct Engine call did not (r11 advice); same guard as the
            # substring family's L >= 2
            raise ValueError(
                f"boilerplate_report: min_df must be >= 2, got {min_df}"
            )
        # empty-document markers (documents.EMPTY_DOC_MARKER — what the
        # storage normalization makes of a fully-cut document; shared
        # constant so this filter and the cut fixpoint's normalize-derived
        # marker can never desync, r11 advice) are excluded from the fit:
        # the marker is IRREMOVABLE (cutting it re-empties the document
        # and normalization restores it), so reporting it as hot would
        # send a report→cut→report runbook into a loop where the cut
        # returns 0 forever while the report stays non-empty (r11
        # review). The cut's fixpoint freezes the same documents for the
        # same reason.
        texts = self._category_doc_texts(cid).filter(
            F.col("_text") != EMPTY_DOC_MARKER
        )
        hot = boilerplate_lines(
            texts, id_col="document_id", text_col="_text", min_df=min_df
        )
        tagged = (
            texts.select(
                F.explode(
                    F.split(F.coalesce(F.col("_text"), F.lit("")), "\n", -1)
                ).alias("_line")
            )
            .select(F.lower(F.trim("_line")).alias("_n"))
            .withColumn("_lh", F.md5("_n"))
        )
        # no forced broadcast: hot is output-bounded, not corpus-bounded,
        # but AQE should make the call (the scale-guard discipline)
        return (
            tagged.join(hot, "_lh")
            .groupBy("_lh")
            .agg(F.min("_n").alias("line"), F.min("n_docs").alias("n_docs"))
            .select("line", "n_docs")
        )

    def boilerplate_cut(
        self,
        owner: str,
        category: str,
        min_df: int = 10,
        iterate: int = 3,
        re_embed: bool = False,
    ) -> int:
        """CUT every corpus-boilerplate line from a stored category —
        the write-path complement of :meth:`boilerplate_report` and the
        line-level sibling of :meth:`substr_dedup_cut` (no keeper:
        boilerplate has no copy worth keeping, the contamination-cut
        convention). Same rewrite machinery and derived-store contract
        (partition-scoped upsert of changed documents only, text-index
        tombstone/rebuild, band-row rewrite, optional ``re_embed``).

        Runs the operator FIXPOINT
        (:func:`~go_vectorsearch_spark.operators.curation.
        strip_boilerplate_fixpoint`) with the FULL storage normalization
        as a pure expression (``format_multiline_text`` — unlike the
        substring cut's token-rejoined output, a LINE cut can leave
        edges _format_string would clean: stored texts may carry empty
        lines from flatten's empty-list/empty-dict items, and cutting a
        document's final line leaves a trailing newline that
        period-append alone would turn into a phantom ``'.'`` line, r11
        advice) applied to changed documents INSIDE the loop: cutting a
        document's final line can period-migrate the new last line's
        normalized form across ``min_df``, and each pass re-fits on
        exactly the text the store would hold — a converged cut leaves
        :meth:`boilerplate_report` empty by construction (both sides
        exclude the irremovable empty-document marker from the fit, so
        the report→cut runbook terminates even after a mass-emptying
        cut). Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators.curation import (
            strip_boilerplate_fixpoint,
        )
        from go_vectorsearch_spark.operators.documents import (
            EMPTY_DOC_MARKER,
            _format_multiline_string,
            format_multiline_text,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"boilerplate_cut: unknown {owner}/{category}")
        if min_df < 2:
            # mirror boilerplate_report: min_df=1 would mark every line
            # hot and rewrite the entire category to empty-document
            # markers (r11 advice — only the service route validated)
            raise ValueError(
                f"boilerplate_cut: min_df must be >= 2, got {min_df}"
            )
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        try:
            cut = strip_boilerplate_fixpoint(
                texts,
                id_col="document_id",
                text_col="_text",
                min_df=min_df,
                iterate=iterate,
                normalize=format_multiline_text,
                # the shared storage constant — saves the fixpoint's
                # marker-resolution driver action, and this filter and
                # boilerplate_report's already use it (can't desync)
                marker=EMPTY_DOC_MARKER,
                # the pinned scalar twin of the format_multiline_text
                # EXPRESSION (not _format_string: the storage UDF's
                # Unicode .strip() would make the local path clean
                # differently than the distributed loop on exotic
                # whitespace edges) — enables the fixpoint's adaptive
                # driver-local path for driver-sized categories
                normalize_py=_format_multiline_string,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            texts.unpersist()

    def build_neardup_index(self, owner: str, category: str) -> int:
        """Build (or rebuild) the category's persisted near-dup band
        index over the flattened document texts. Returns the number of
        indexed documents (shingle-less docs contribute no rows)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"build_neardup_index: unknown {owner}/{category}")
        rows = self._doc_band_rows(self._category_doc_texts(cid), "document_id")
        t = self._neardup_table(cid)
        # persist so the write materializes the band rows ONCE and the
        # return-value count reuses them — no read-back of the store
        rows.persist()
        try:
            t.write(rows)
            return rows.select("document_id").distinct().count()
        finally:
            rows.unpersist()

    def append_neardup_index(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Incrementally index newly uploaded documents: their band rows
        APPEND; untouched bucket partitions carry by manifest reference
        (the upload path's discipline, like :meth:`append_text_index`)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_neardup_index: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise ValueError(
                f"append_neardup_index: no near-dup index for "
                f"{owner}/{category}; run build_neardup_index first"
            )
        if not document_ids:
            return 0
        rows = self._doc_band_rows(
            self._category_doc_texts(cid, document_ids), "document_id"
        )
        self._neardup_table(cid).append(rows)
        return len(document_ids)

    def neardup_pairs_report(
        self, owner: str, category: str, threshold: float = 0.5
    ) -> DataFrame:
        """Corpus-level near-duplicate PAIRS within a stored category:
        (id_a, id_b, jaccard) over the flattened document texts —
        operators/dedup.minhash_lsh_pairs run where the data lives, the
        settled-corpus complement of the ingest-time neardup_check
        (which only answers 'is this NEW text a dup of something
        stored'). Banded LSH candidates + exact verification; raw text
        never shuffles."""
        from go_vectorsearch_spark.operators import dedup as DD

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"neardup_pairs_report: unknown {owner}/{category}")
        return DD.minhash_lsh_pairs(
            self._category_doc_texts(cid),
            id_col="document_id",
            text_col="_text",
            threshold=threshold,
        ).select(
            F.col("id_a").alias("document_id_a"),
            F.col("id_b").alias("document_id_b"),
            "jaccard",
        )

    def compact_neardup_index(self, owner: str, category: str) -> int:
        """Drop band rows of deleted documents from the category's
        near-dup store (one semi-join against the live documents +
        one snapshot rewrite — the store is 4 rows/doc, metadata-scale
        next to the corpus). Stale rows are only ever a candidate-work
        tax (the exact verify self-heals them, see neardup_check), so
        this is amortized hygiene like compact_postings, not a
        correctness requirement. Returns the surviving row count."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"compact_neardup_index: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise ValueError(
                f"compact_neardup_index: no near-dup index for "
                f"{owner}/{category}; run build_neardup_index first"
            )
        t = self._neardup_table(cid)
        live = (
            self.t["documents"]
            .read()
            .filter(F.col("category_id") == cid)
            .select("document_id")
        )
        # The snapshot read and the rewrite must be ONE cross-process
        # critical section (_write_lock is reentrant, so the inner
        # write's own acquisition nests): resolving the version outside
        # the flock would let another replica's append_neardup_index
        # land in between and be silently erased by this stale-plan
        # write — losing LIVE band rows, not just stale ones. Same
        # discipline as _VersionedTable.compact.
        with t._write_lock():
            kept = t.read().join(live, "document_id", "left_semi")
            t.write(kept)
            return t.read().count()

    # past this many incoming texts, skip the driver-side band-key pull
    # that powers bucket pruning and read the whole (still tiny) band
    # store instead — a bulk re-dedup job touches most buckets anyway
    _NEARDUP_PRUNE_CAP = 10_000

    def neardup_check(
        self,
        owner: str,
        category: str,
        texts: list[str],
        threshold: float = 0.5,
    ) -> DataFrame:
        """Near-duplicate matches of ``texts`` against the category's
        persisted band index — WITHOUT uploading them.

        Returns (q_ix, document_id, jaccard): input index, matched
        stored document, exact hashed-shingle Jaccard >= ``threshold``.
        Cost profile: band keys of the batch (map-side), one
        bucket-pruned read of the band store, and exact verification
        that re-shingles ONLY the candidate stored documents (an
        id-bucket-pruned documents read) — corpus size never enters.
        """
        from go_vectorsearch_spark.operators import dedup as DD

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"neardup_check: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise NearDupIndexMissing(
                f"neardup_check: no near-dup index for {owner}/{category}; "
                "run build_neardup_index first"
            )
        empty = self.spark.createDataFrame(
            [], "q_ix long, document_id long, jaccard double"
        )
        if not texts:
            return empty
        new = self.spark.createDataFrame(
            list(enumerate(texts)), "q_ix long, _text string"
        )
        # NOT persisted: a serving frame outliving the call would leak
        # storage per request; re-shingling a request-sized batch per
        # action is map-side noise (bulk callers shingle once per pass)
        shingled_new = DD.shingled_docs(new, id_col="q_ix", text_col="_text")
        new_bands = self._doc_band_rows_from_shingled(shingled_new, "q_ix")

        cand_ids = None
        if len(texts) <= self._NEARDUP_PRUNE_CAP:
            # serving path — ONE job derives everything driver-side:
            # the batch's band rows are <= 4 x |texts| short rows, so
            # collect them once and reuse the literal rows for bucket
            # pruning AND the candidate join (re-deriving the band
            # frame per downstream action would re-shingle the batch
            # and re-read the store once per collect)
            band_rows = new_bands.collect()
            if not band_rows:
                return empty
            buckets = sorted(
                {int(r["key"][:8], 16) % N_BAND_BUCKETS for r in band_rows}
            )
            store = self._neardup_table(cid).read(partition_values=buckets)
            new_bands = self.spark.createDataFrame(
                band_rows, "q_ix long, band int, key string"
            )
            cand_rows = (
                new_bands.join(store, ["band", "key"])
                .select("q_ix", "document_id")
                .distinct()
                .collect()
            )
            if not cand_rows:
                return empty
            cand = self.spark.createDataFrame(
                cand_rows, "q_ix long, document_id long"
            )
            # exact verify over the candidate set only: candidate ids
            # prune the documents read to their hash buckets (the
            # append_text_index pattern); candidates are bounded by
            # batch x bucket collisions, so the pull is serving-sized
            cand_ids = sorted({r["document_id"] for r in cand_rows})
        else:
            # bulk path — stay fully distributed: read every bucket and
            # verify against an unpruned (but candidate-semi-joined) scan
            store = self._neardup_table(cid).read()
            cand = (
                new_bands.join(store, ["band", "key"])
                .select("q_ix", "document_id")
                .distinct()
            )
        stored = DD.shingled_docs(
            self._category_doc_texts(cid, cand_ids),
            id_col="document_id",
            text_col="_text",
        ).select(F.col("_id").alias("document_id"), F.col("_sh").alias("_shb"))
        # bind the intersection size once: codegen does not CSE repeated
        # subexpressions, so referencing it in both numerator and
        # denominator evaluates array_intersect a single time (matches
        # the streaming twin, streaming/dedup.py)
        inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
        jac = inter / (F.size("_sha") + F.size("_shb") - inter).cast("double")
        out = (
            cand.join(
                shingled_new.select(
                    F.col("_id").alias("q_ix"), F.col("_sh").alias("_sha")
                ),
                "q_ix",
            )
            .join(stored, "document_id")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("q_ix", "document_id", "jaccard")
        )
        return out

    def _doc_band_rows_from_shingled(
        self, shingled: DataFrame, id_col: str
    ) -> DataFrame:
        from go_vectorsearch_spark.operators import dedup as DD

        return DD.stored_band_rows(shingled, id_col)

    def search_hybrid(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        fuse_depth: int = 60,
        rrf_c: int = 60,
        where=None,
    ) -> DataFrame:
        """Hybrid search: vector top-``fuse_depth`` and BM25
        top-``fuse_depth`` fused by reciprocal-rank fusion, then paged
        and hydrated exactly like :meth:`search`. Requires
        :meth:`build_text_index` to have run for the category (the same
        explicit-build contract as the centroid index). Lexical-only
        and vector-only corner cases degrade gracefully: a ranking with
        no hits simply contributes nothing to the fusion.

        ``where`` (an optional Column predicate over the documents
        table: name/external_id/payload_json/document_id) PRE-filters
        BOTH legs — the allowed doc-id frame is computed once from the
        category-scoped documents scan, semi-joined into the probed
        embeddings before vector scoring and into the term-pruned
        postings before BM25 ranking — so a filtered page holds
        ``count`` matching documents whenever that many live matches
        exist (post-filtering the fused page would underfill). The
        same generalization of the reference's category scoping
        (server/search.go:229-233) that plans/ivf.ivf_search(where=)
        makes for raw stores."""
        from go_vectorsearch_spark.operators.fulltext import (
            bm25_search_stored,
            rrf_fuse,
        )

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._page_frame([])
        path = self._text_index_path(scope)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"search_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        allowed = None if where is None else self._allowed_docs(scope, where)
        lexical = bm25_search_stored(
            self.spark, path, text, k=fuse_depth, allowed=allowed
        ).withColumnRenamed("doc_id", "document_id")
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        vector = self._vector_topk(scope, qvec, fuse_depth, nprobe, allowed=allowed)
        # same adaptive widening as search(): under a predicate the
        # vector leg must not cede fused-rank mass just because the
        # initial probe set was thin (the count is over a <= fuse_depth
        # frame, not the corpus). The target is clamped to |allowed| —
        # a selective predicate with fewer than fuse_depth matches IN
        # TOTAL would otherwise force the full log2(n_cent) escalation
        # even when no further matches exist anywhere; the clamp count
        # runs LAZILY (only when the first probe underfills). The
        # widening is INCREMENTAL like search()'s (each round scores
        # only the newly added lists — _widen_vector_rows), and the
        # collected leg re-materializes as a literal frame so the RRF
        # fusion never rescans the probed partitions. Like the other
        # stop-on-fill loops, a match found in the last widening step
        # carries its probe-limited best-chunk score into the fusion.
        if where is not None and vector is not None:
            n_cent = len(self._category_centroids(scope))
            first_rows = vector.collect()
            vector = self.spark.createDataFrame(
                [(int(r["document_id"]), float(r["score"])) for r in first_rows],
                "document_id long, score double",
            )
            if len(first_rows) < fuse_depth and nprobe < n_cent:
                target = min(fuse_depth, allowed.count())
                if len(first_rows) < target:
                    merged = self._widen_vector_rows(
                        scope, qvec, fuse_depth, nprobe, allowed,
                        first_rows=first_rows, needed=target,
                    )
                    # cut back to the top-fuse_depth leg the fusion
                    # contract expects (merged may hold a few more)
                    vector = topk_paginated(merged, fuse_depth, 0)
        rankings = [lexical] + ([vector] if vector is not None else [])
        fused = rrf_fuse(
            rankings, k=count + offset, c=rrf_c, id_col="document_id"
        )
        page_rows = fused.collect()[offset:]
        return self._hydrate(page_rows, scope)

    # -- chat (server/chat.go:109-181, minus the LLM call) -------------------
    def chat_messages(
        self,
        text: str,
        document_ids: Sequence[int] = (),
        history: Sequence[str] = (),
        prefix: str = "",
    ) -> list[dict[str, str]]:
        """Assemble the chat request payload the reference would send to
        its LLM provider: retrieve the referenced documents (S4 PK-list
        lookup), flatten each payload (doc.Document.JSON() -> Flatten,
        chat.go:122-124), and build the alternating-history + quoted-
        context + "My question is: " message list. The LLM call itself
        is out of engine scope (SURVEY.md §2.11)."""
        import json

        from go_vectorsearch_spark.operators.documents import flatten
        from go_vectorsearch_spark.operators.rag import build_messages

        doc_texts: list[str] = []
        if document_ids:
            rows = (
                lookup_by_keys(
                    self.t["documents"].read(), "document_id", list(document_ids)
                )
                .select("document_id", "payload_json")
                .collect()
            )
            by_id = {r["document_id"]: r["payload_json"] for r in rows}
            # preserve the caller's id order (GORM Find keeps request order
            # only incidentally; deterministic order is strictly better)
            doc_texts = [
                flatten(json.loads(by_id[d])) for d in document_ids if d in by_id
            ]
        return build_messages(text, doc_texts, history, prefix)

    # -- fetch (server/fetch.go:19-124) -------------------------------------
    def table_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed of an engine table between two snapshot versions
        (see _VersionedTable.changes), keyed by the table's unique id
        column so in-place mutations surface as update_preimage/
        update_postimage pairs rather than unrelated delete+insert
        rows. Keys are DECLARED per table (_TABLE_KEYS), not derived
        from DDL column order: keyed-diff correctness requires a
        per-snapshot-unique column, and a silent convention would let a
        reordered schema key the diff on a non-unique column."""
        return self.t[name].changes(
            from_version, to_version, key=_TABLE_KEYS[name]
        )

    def fetch_category_names(self, owner: str) -> list[str]:
        owners = self.t["owners"].read().filter(F.col("name") == owner)
        cats = self.t["categories"].read()
        rows = (
            cats.join(
                owners.select(F.col("owner_id").alias("_oid")),
                cats.owner_id == F.col("_oid"),
                "left_semi",
            )
            .select("name")
            .orderBy("name")
            .collect()
        )
        return [r[0] for r in rows]

    # -- serving-layer metadata (cache/middleware.go:18-163) -----------------
    def _invalidate_cache(self) -> None:
        if self._cache:
            self._cache.clear()

    def _category_id(self, owner: str, category: str) -> int | None:
        """owner name + category name -> category_id, TTL-cached with
        singleflight like the reference's FetchOwner/FetchCategory
        (misses — unknown owner/category — are never cached)."""

        def load() -> int | None:
            owners = self.t["owners"].read().filter(F.col("name") == owner)
            o = owners.head()
            if o is None:
                return None
            c = (
                self.t["categories"]
                .read()
                .filter(
                    (F.col("owner_id") == o["owner_id"]) & (F.col("name") == category)
                )
                .head()
            )
            return None if c is None else c["category_id"]

        if self._cache:
            return self._cache.get(("category_id", owner, category), load)
        return load()

    def _category_centroids(
        self, cid: int, fresh: bool = False
    ) -> list[tuple[int, list[float]]]:
        """All (centroid_id, vector) of a category, TTL-cached (unless
        ``fresh``: one collect, bypassing the cache) — the
        reference's FetchCentroids (cache/middleware.go:115-163): search
        resolves its probe set WITHOUT touching storage on repeat
        requests. Bounded by design: centroid count ~ rows/10k (the
        reference likewise holds a category's full centroid set in
        process memory, server/search.go:202-227); for beyond-memory
        centroid sets use plans/ivf.nearest_centroids_distributed."""

        def load() -> list[tuple[int, list[float]]]:
            return [
                (r["centroid_id"], r["vector"])
                for r in self.t["centroids"]
                .read()
                .filter(F.col("category_id") == cid)
                .collect()
            ]

        if self._cache and not fresh:
            return self._cache.get(("centroids", cid), load)
        return load()

    # -- deletes (server/delete.go:214-288, cascades as anti-joins) ----------

    def _cascade_plans(self, victim_cats: DataFrame) -> dict[str, DataFrame]:
        """Pure plan builder for a category cascade: survivor frames for
        embeddings/documents/centroids given victim categories. Split
        from the writes so tests can assert on the plans directly; the
        WRITE path (_cascade_categories) re-derives its survivor frames
        from partition-pruned reads once the touched sets are known —
        these full-read plans define the semantics the pruned writes
        must match.

        Only the victim CATEGORY-ID set is broadcast-hinted (ids only,
        bounded by categories-per-owner). victim_docs = ALL document ids
        of the deleted categories — unbounded at the design point, so NO
        broadcast hint: Catalyst (with AQE) picks broadcast only when
        that side is actually small, falling back to a shuffle anti-join
        otherwise."""
        vc = F.broadcast(victim_cats.select("category_id"))
        docs = self.t["documents"].read()
        victim_docs = docs.join(vc, "category_id", "left_semi").select("document_id")
        emb = self.t["embeddings"].read()
        return {
            "embeddings": emb.join(victim_docs, "document_id", "left_anti"),
            "documents": docs.join(vc, "category_id", "left_anti"),
            "centroids": self.t["centroids"].read().join(
                vc, "category_id", "left_anti"
            ),
            "victim_docs": victim_docs,
        }

    def _cascade_categories(self, victim_cats: DataFrame) -> None:
        """Given victim categories (category_id col), delete their
        documents, embeddings, and centroids bottom-up via anti-joins —
        rewriting ONLY the partitions that actually held victim rows.
        The touched-partition collects are bounded by the partition
        counts (centroids per table, N_DOC_BUCKETS), never by rows."""
        plans = self._cascade_plans(victim_cats)
        emb = self.t["embeddings"].read()
        touched_cents = [
            r[0]
            for r in emb.join(
                plans["victim_docs"], "document_id", "left_semi"
            )
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        touched_buckets = [
            r[0]
            for r in plans["victim_docs"]
            .select(F.expr(_PARTITION_EXPRS["documents"]))
            .distinct()
            .collect()
        ]
        # survivor frames for the WRITES re-read only the touched
        # partitions (manifest pruning) — the full-table reads above
        # exist to IDENTIFY victims, and must not be what the rewrite
        # jobs scan (O(touched) read side at the 100 TB design point)
        vc = F.broadcast(victim_cats.select("category_id"))
        if touched_cents:
            self.t["embeddings"].overwrite_partitions(
                self.t["embeddings"]
                .read(partition_values=touched_cents)
                .join(plans["victim_docs"], "document_id", "left_anti"),
                touched_cents,
            )
        if touched_buckets:
            self.t["documents"].overwrite_partitions(
                self.t["documents"]
                .read(partition_values=touched_buckets)
                .join(vc, "category_id", "left_anti"),
                touched_buckets,
            )
        self.t["centroids"].write(plans["centroids"])
        # a deleted category's BM25 store would otherwise sit orphaned
        # on disk forever (and search_hybrid can never reach it — the
        # category id is gone). The victim-id collect is bounded by
        # categories-per-owner, like the cascade's other collects.
        import shutil

        for (cid,) in victim_cats.select("category_id").collect():
            for dead in (
                self._text_index_path(int(cid)),
                self._neardup_path(int(cid)),
            ):
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)

    def delete_owner(self, owner: str) -> None:
        owners = self.t["owners"].read()
        victim = owners.filter(F.col("name") == owner)
        cats = self.t["categories"].read()
        victim_cats = cats.join(
            F.broadcast(victim.select("owner_id")), "owner_id", "left_semi"
        )
        self._cascade_categories(victim_cats)
        self.t["categories"].write(
            cats.join(F.broadcast(victim.select("owner_id")), "owner_id", "left_anti")
        )
        self.t["owners"].write(owners.filter(F.col("name") != owner))
        self._invalidate_cache()

    def delete_category(self, owner: str, category: str) -> None:
        cid = self._category_id(owner, category)
        if cid is None:
            return
        cats = self.t["categories"].read()
        self._cascade_categories(cats.filter(F.col("category_id") == cid))
        self.t["categories"].write(cats.filter(F.col("category_id") != cid))
        self._invalidate_cache()

    def delete_document(self, owner: str, category: str, document_id: int) -> None:
        """Tenant-scoped document delete (server/delete.go:252-279): the
        reference resolves owner -> category and deletes only
        ``WHERE category_id = ? AND id = ?`` — a caller can never delete
        another tenant's identically-ID'd document. Missing owner or
        category is a silent no-op (gorm.ErrRecordNotFound -> nil)."""
        self.delete_documents(owner, category, [document_id])

    def delete_documents(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Bulk tenant-scoped document delete — the batch form of
        :meth:`delete_document` (an engine extension; the reference
        only deletes one id per request). Every touched partition is
        rewritten ONCE for the whole batch: per-id deletes of N
        documents sharing a hash bucket or a centroid list would
        rewrite that partition N times, the batch rewrites it once —
        the difference between O(N x touched) and O(touched) write
        amplification on a retention sweep. Ids not belonging to this
        tenant (or unknown) are silently skipped, per the reference's
        not-found semantics. Returns the number of documents deleted."""
        cid = self._category_id(owner, category)
        if cid is None or not document_ids:
            return 0
        ids = sorted({int(i) for i in document_ids})
        # the victim check reads ONLY the ids' hash-bucket partitions
        # (manifest pruning). In a category with a text index the same
        # pruned read yields each victim's token count, so the tombstones
        # below shrink the corpus stats exactly without a postings scan;
        # without one it reads the ids alone and runs no tokenizer
        tpath = self._text_index_path(cid)
        text_indexed = os.path.exists(f"{tpath}/VERSION")
        cols = [F.col("document_id")]
        if text_indexed:
            from go_vectorsearch_spark.operators.documents import flatten_json_udf
            from go_vectorsearch_spark.operators.fulltext import tokenize

            cols.append(
                F.size(tokenize(flatten_json_udf(F.col("payload_json")))).alias("_dl")
            )
        buckets = sorted({i % N_DOC_BUCKETS for i in ids})
        victim = F.col("document_id").isin(ids) & (F.col("category_id") == cid)
        victim_rows = (
            self.t["documents"]
            .read(partition_values=buckets)
            .filter(victim)
            .select(*cols)
            .collect()
        )
        if not victim_rows:
            return 0  # no verified victims in this tenant: no-op
        verified = sorted(r["document_id"] for r in victim_rows)
        victim_buckets = sorted({i % N_DOC_BUCKETS for i in verified})
        # embeddings carry no category_id — the cascade follows the
        # VERIFIED victim documents (FK ON DELETE CASCADE semantics),
        # so a bare document_id match can't cross tenants here either.
        emb = self.t["embeddings"].read()
        touched_cents = [
            r[0]
            for r in emb.filter(F.col("document_id").isin(verified))
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        # SURVIVOR frames read only the touched partitions (manifest-
        # level pruning): identifying victims costs one column scan, but
        # the rewrite job must not list/scan the whole table again —
        # O(touched) on the read side matches O(touched) on the write
        if touched_cents:
            self.t["embeddings"].overwrite_partitions(
                self.t["embeddings"]
                .read(partition_values=touched_cents)
                .filter(~F.col("document_id").isin(verified)),
                touched_cents,
            )
        self.t["documents"].overwrite_partitions(
            self.t["documents"]
            .read(partition_values=victim_buckets)
            .filter(~victim),
            victim_buckets,
        )
        # the text index must not keep ranking dead documents: their
        # postings would occupy lexical top-n slots that hydration then
        # drops, silently underfilling hybrid pages. One tombstone
        # commit for the whole batch, with the exact dls recovered
        # above — O(manifest), no bucket rewrite. An index built since
        # the check above has no dls from the victim read: the tombstone
        # recovers them from the postings instead
        if os.path.exists(f"{tpath}/VERSION"):
            from go_vectorsearch_spark.operators.fulltext import (
                _store_manifest,
                _store_version,
                compact_postings,
                delete_postings,
            )

            dl_by_doc = (
                {r["document_id"]: int(r["_dl"]) for r in victim_rows}
                if text_indexed
                else None
            )
            delete_postings(self.spark, tpath, verified, dl_by_doc=dl_by_doc)
            # the tombstone list rides every reader's plan as a NOT-IN
            # literal; many point deletes without a maintenance pass
            # would bloat it unboundedly, so past a threshold the
            # delete itself triggers the compaction that purges them
            # (bounded amortized cost, like the tables' compact)
            m = _store_manifest(tpath, _store_version(tpath))
            if len(m.get("tombstones", [])) >= 1024:
                compact_postings(self.spark, tpath)
        self._invalidate_cache()
        return len(verified)

    # -- index refresh (server/centroids.go:17-83 -> plans/ivf) --------------
    def _refresh_scope(self, cid: int) -> DataFrame:
        """Embeddings of one category via doc-id semi-join. The
        category's doc-id set is unbounded (a category can hold the
        whole corpus) — no broadcast hint; Catalyst broadcasts iff the
        filtered side is actually under the threshold."""
        emb = self.t["embeddings"].read()
        docs = self.t["documents"].read().filter(F.col("category_id") == cid)
        return emb.join(docs.select("document_id"), "document_id", "left_semi")

    def refresh_index(self, owner: str, category: str, max_leaf: int = 10_000) -> int:
        """Rebuild the category's IVF index; returns the centroid count."""
        from go_vectorsearch_spark.plans.ivf import build_index

        cid = self._category_id(owner, category)
        if cid is None:
            return 0
        emb = self.t["embeddings"].read()
        scoped = self._refresh_scope(cid)
        if scoped.isEmpty():
            return 0
        index = build_index(
            dequantized_vector(scoped).select(
                F.col("embedding_id").alias("vec_id"), F.col("vector").alias("embedding")
            ),
            max_leaf=max_leaf,
        )
        base = self._next_id("centroids", "centroid_id")
        cents = index.centroids.select(
            (F.lit(base) + F.col("centroid_id")).alias("centroid_id"),
            F.lit(cid).cast("long").alias("category_id"),
            F.col("centroid_vec").cast("array<float>").alias("vector"),
        )
        keep = self.t["centroids"].read().filter(F.col("category_id") != cid)
        self.t["centroids"].write(keep.unionByName(cents))
        assigned = index.assigned.select(
            F.col("vec_id").alias("embedding_id"),
            (F.lit(base) + F.col("centroid_id")).alias("_new_centroid"),
        )
        out = (
            emb.join(assigned, "embedding_id", "left")
            .withColumn(
                "centroid_id", F.coalesce(F.col("_new_centroid"), F.col("centroid_id"))
            )
            .drop("_new_centroid")
        )
        # full write is CORRECT here: the refresh reassigns every row's
        # centroid_id, so every partition's membership changes (the
        # reference likewise re-UPDATEs all assignments, dnc.go:176-263)
        self.t["embeddings"].write(out)
        self._invalidate_cache()  # new centroid set
        return cents.count()

    def refresh_index_incremental(
        self,
        owner: str,
        category: str,
        max_leaf: int = 10_000,
        drift_threshold: float = 0.01,
    ) -> dict:
        """Incremental IVF maintenance — touch ONLY the centroids whose
        state changed, carrying every other embeddings partition by
        manifest reference:

          * OVERSIZED leaves (> max_leaf) are re-split by a local
            k-means over just their own partitions (the reference
            recursing into one subtree, dnc/dnc.go:300-400);
          * SMALL leaves (< max_leaf/10, dnc/dnc.go:486) are dissolved —
            members reassigned to the nearest kept centroid;
          * EMPTY leaves (every member deleted since the last refresh)
            are dropped;
          * DRIFTED leaves (cosine distance between the stored centroid
            and the current member mean > drift_threshold) are
            re-centered IN PLACE — a centroids-table row update, no
            embeddings movement at all.

        :meth:`refresh_index` is faithful to the reference's full
        rebuild (dnc/dnc.go:35-297) but re-scans and re-writes the whole
        category every time — the inherited scale-killer at 100 TB.
        This variant costs one stats pass over the category (map-side
        count+mean, k-row result) plus work proportional to the CHURN:
        the embeddings commit removes/adds only the split, dissolved,
        empty and receiving partitions (one atomic
        :meth:`_VersionedTable.replace_partitions`).

        Returns ``{"split": [...], "dropped": [...], "recentered":
        [...], "centroids": n}`` (old centroid ids; ``centroids`` is
        the category's final count)."""
        import numpy as np

        from go_vectorsearch_spark.plans.ivf import build_index

        noop = {"split": [], "dropped": [], "recentered": [], "centroids": 0}
        cid = self._category_id(owner, category)
        if cid is None:
            return noop
        cents = self._category_centroids(cid)
        if not cents:
            # nothing indexed yet: the full build IS the increment
            n = self.refresh_index(owner, category, max_leaf=max_leaf)
            return {**noop, "centroids": n}
        cent_ids = sorted(int(c) for c, _ in cents)
        stored = {int(c): [float(x) for x in v] for c, v in cents}

        # one stats pass: per-centroid member count + elementwise mean
        # (map-side partial agg; result is k x dim driver rows, the same
        # boundedness as the centroid cache itself)
        emb = (
            self.t["embeddings"]
            .read(partition_values=cent_ids)
            .filter(F.col("centroid_id").isin(cent_ids))
        )
        per = (
            dequantized_vector(emb)
            .select("centroid_id", F.posexplode("vector").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("val"), F.count("*").alias("n"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("mean_vec"),
                F.max("n").alias("n"),
            )
            .collect()
        )
        sizes = {int(r["centroid_id"]): int(r["n"]) for r in per}
        means = {
            int(r["centroid_id"]): [float(x) for x in r["mean_vec"]] for r in per
        }
        min_leaf = max_leaf // 10
        empty = [c for c in cent_ids if c not in sizes]
        oversized = sorted(c for c in sizes if sizes[c] > max_leaf)
        small = sorted(
            c for c in sizes if sizes[c] < min_leaf and c not in oversized
        )
        survivors = [
            c
            for c in cent_ids
            if c not in set(oversized) | set(small) | set(empty)
        ]
        drifted = []
        for c in survivors:
            m = np.asarray(means[c], dtype=np.float64)
            s = np.asarray(stored[c], dtype=np.float64)
            denom = float(np.linalg.norm(m) * np.linalg.norm(s))
            cos = float(m @ s) / denom if denom else 1.0
            if 1.0 - cos > drift_threshold:
                drifted.append(c)
        if not (empty or oversized or small or drifted):
            return {**noop, "centroids": len(cent_ids)}  # true no-op: no commit

        # -- splits: local k-means per oversized leaf ---------------------
        next_id = self._next_id("centroids", "centroid_id")
        new_cent_rows: list[tuple[int, list[float]]] = []
        moved_frames: list[DataFrame] = []
        for c in oversized:
            part = (
                self.t["embeddings"]
                .read(partition_values=[c])
                .filter(F.col("centroid_id") == c)
            )
            sub = build_index(
                dequantized_vector(part).select(
                    F.col("embedding_id").alias("vec_id"),
                    F.col("vector").alias("embedding"),
                ),
                max_leaf=max_leaf,
            )
            sub_cents = sub.centroids.collect()
            id_map = {
                int(r["centroid_id"]): next_id + i
                for i, r in enumerate(sub_cents)
            }
            next_id += len(sub_cents)
            new_cent_rows.extend(
                (id_map[int(r["centroid_id"])], [float(x) for x in r["centroid_vec"]])
                for r in sub_cents
            )
            remap = F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for old, new in sorted(id_map.items())
                        for x in (old, new)
                    ]
                ),
                F.col("_local"),
            )
            assigned = sub.assigned.select(
                F.col("vec_id").alias("embedding_id"),
                F.col("centroid_id").alias("_local"),
            ).select("embedding_id", remap.alias("_new_cid"))
            moved_frames.append(
                part.drop("centroid_id")
                .join(assigned, "embedding_id")
                .select(
                    "embedding_id",
                    "document_id",
                    F.col("_new_cid").alias("centroid_id"),
                    "codes",
                    "lo",
                    "hi",
                )
            )

        # -- dissolves: reassign small leaves' members to kept centroids --
        # targets = survivors (re-centered where drifted) + the new
        # sub-centroids, exactly the set the final centroid table holds
        targets = [
            (c, np.asarray(means[c] if c in drifted else stored[c], dtype=np.float64))
            for c in survivors
        ] + [(c, np.asarray(v, dtype=np.float64)) for c, v in new_cent_rows]
        if small and not targets:
            small = []  # nowhere to dissolve into — keep the leaves
        if small:
            small_rows = (
                self.t["embeddings"]
                .read(partition_values=small)
                .filter(F.col("centroid_id").isin(small))
            )
            reassigned = assign_nearest_mat(
                dequantized_vector(small_rows),
                targets,
                vec_col="vector",
                out_col="_new_cid",
            )
            moved_frames.append(
                reassigned.select(
                    "embedding_id",
                    "document_id",
                    F.col("_new_cid").alias("centroid_id"),
                    "codes",
                    "lo",
                    "hi",
                )
            )

        # -- commit order is the crash-safety story -----------------------
        # Three commits, each leaving a searchable table pair:
        #   1. APPEND the new sub-centroids (old + new both live; new
        #      ids probe not-yet-existing partitions — empty, harmless);
        #   2. move the embeddings atomically (old split ids now probe
        #      dropped partitions — empty; their rows are live under
        #      the new ids, which ARE in the centroids table);
        #   3. final centroids rewrite (drop split/dissolved/empty ids,
        #      apply re-centers).
        # A crash between any two leaves no unreachable data, and a
        # re-run self-heals: ids whose partitions are gone classify as
        # EMPTY and drop; a leftover appended id with no rows likewise.
        # (Committing the moves before ANY centroids write would orphan
        # the moved rows under ids no table references.)
        remove_keys = list(oversized) + list(small) + list(empty)
        if new_cent_rows:
            self.t["centroids"].append(
                self.spark.createDataFrame(
                    [(c, cid, v) for c, v in new_cent_rows],
                    _SCHEMAS["centroids"],
                )
            )
        if moved_frames or remove_keys:
            moved = moved_frames[0] if moved_frames else None
            for f in moved_frames[1:]:
                moved = moved.unionByName(f)
            if moved is None:  # only empties to drop
                moved = self.spark.createDataFrame([], _SCHEMAS["embeddings"])
            self.t["embeddings"].replace_partitions(moved, remove_keys)
        kept_rows = [
            (
                c,
                cid,
                [float(x) for x in (means[c] if c in drifted else stored[c])],
            )
            for c in cent_ids
            if c not in set(remove_keys)
        ] + [(c, cid, v) for c, v in new_cent_rows]
        others = self.t["centroids"].read().filter(F.col("category_id") != cid)
        self.t["centroids"].write(
            others.unionByName(
                self.spark.createDataFrame(kept_rows, _SCHEMAS["centroids"])
            )
        )
        self._invalidate_cache()
        return {
            "split": list(oversized),
            "dropped": sorted(set(small) | set(empty)),
            "recentered": list(drifted),
            "centroids": len(kept_rows),
        }

    def compact(self, min_dirs: int = 2) -> dict[str, list[str]]:
        """Compact every engine table's fragmented partitions (see
        _VersionedTable.compact) — the maintenance job a deployment runs
        beside the background index refresh. Returns the compacted
        partition keys per table."""
        out = {name: t.compact(min_dirs=min_dirs) for name, t in self.t.items()}
        self._invalidate_cache()
        return out

    def stats(self) -> dict:
        """Operational snapshot: per-table row counts + current version,
        and per-(owner, category) document/embedding/centroid counts +
        text-index presence. Per-category embedding counts come from
        groupBy(centroid_id) joined to the TINY centroids table — never
        a corpus-sized embeddings⋈documents join; every collect here is
        bounded by the number of tables/categories (metadata-scale)."""
        tables = {
            name: {"rows": t.read().count(), "version": t._version()}
            for name, t in self.t.items()
        }
        owners = self.t["owners"].read().select(
            "owner_id", F.col("name").alias("_owner")
        )
        cats = (
            self.t["categories"]
            .read()
            .join(owners, "owner_id")
            .select("category_id", "_owner", F.col("name").alias("_cat"))
        )
        doc_counts = {
            r["category_id"]: r["n"]
            for r in self.t["documents"]
            .read()
            .groupBy("category_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        cent = self.t["centroids"].read().select("centroid_id", "category_id")
        emb_counts = {
            r["category_id"]: r["n"]
            for r in self.t["embeddings"]
            .read()
            .groupBy("centroid_id")
            .agg(F.count("*").alias("_c"))
            .join(F.broadcast(cent), "centroid_id")
            .groupBy("category_id")
            .agg(F.sum("_c").alias("n"))
            .collect()
        }
        cent_counts = {
            r["category_id"]: r["n"]
            for r in cent.groupBy("category_id").agg(F.count("*").alias("n")).collect()
        }
        categories = [
            {
                "owner": r["_owner"],
                "category": r["_cat"],
                "documents": int(doc_counts.get(r["category_id"], 0)),
                "embeddings": int(emb_counts.get(r["category_id"], 0)),
                "centroids": int(cent_counts.get(r["category_id"], 0)),
                "text_index": os.path.exists(
                    f"{self._text_index_path(r['category_id'])}/VERSION"
                ),
                "neardup_index": os.path.exists(
                    f"{self._neardup_path(r['category_id'])}/VERSION"
                ),
            }
            for r in sorted(
                cats.collect(), key=lambda r: (r["_owner"], r["_cat"])
            )
        ]
        return {"tables": tables, "categories": categories}

    def refresh_all(
        self, max_leaf: int = 10_000, incremental: bool = False
    ) -> dict[tuple[str, str], int]:
        """RefreshCentroids parity (server/centroids.go:17-83, run once
        at startup, main.go:92): rebuild the IVF index of EVERY category
        of every owner, one category at a time like the reference's
        sequential sweep. Returns {(owner, category): centroid count}.
        ``incremental=True`` runs :meth:`refresh_index_incremental`
        instead — the churn-proportional maintenance sweep a deployment
        schedules between full rebuilds. The category list is a
        bounded-metadata collect; the reference's per-category Postgres
        SHARE NOWAIT lock (C7) is n/a with a single driver (SURVEY
        §2.8)."""
        cats = self.t["categories"].read()
        owners = self.t["owners"].read().select(
            F.col("owner_id"), F.col("name").alias("_owner_name")
        )
        pairs = (
            cats.join(owners, "owner_id")
            .select("_owner_name", "name")
            .orderBy("_owner_name", "name")
            .collect()
        )
        if incremental:
            return {
                (r["_owner_name"], r["name"]): self.refresh_index_incremental(
                    r["_owner_name"], r["name"], max_leaf=max_leaf
                )["centroids"]
                for r in pairs
            }
        return {
            (r["_owner_name"], r["name"]): self.refresh_index(
                r["_owner_name"], r["name"], max_leaf=max_leaf
            )
            for r in pairs
        }

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

import operator
import os
import re
import shutil
import threading
import time
from collections.abc import Sequence
from functools import cached_property, reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from go_vectorsearch_spark import persist, versioned
from go_vectorsearch_spark.operators.relational import lookup_by_keys

from go_vectorsearch_spark.functions.vector import (
    columns_f64,
    cosine_columns,
    dequantize,
    dequantize_array,
    norm_columns,
    quantize,
    vector_range,
)
from go_vectorsearch_spark.operators.assign import assign_nearest, nearest_ids
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
    round6,
    round6_array,
)
from go_vectorsearch_spark.sources.embed_http import embed_texts
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
# request-sized scans run on the driver: probed lists whose files hold
# at most this many rows (summed from their parquet footers, no job) are
# one pyarrow read scored with numpy, so a warm search runs no Spark job;
# larger scans take the Spark path. This is a driver-memory cap, not a
# speed crossover. Measured at 64 dims against local[2] Spark on a
# 4-core box, the driver path was 8x to 18x faster at every size from
# 10k to 200k probed rows (one query at 50k rows: 0.19 s vs 2.0 s),
# while its peak memory grows with the rows, about 3 KB a row: a
# 16-query batch over 50k rows peaked at 99 MB of numpy arrays plus
# 55 MB of Arrow buffers, over 200k rows at 397 MB plus 215 MB.
LOCAL_READ_ROWS = 50_000
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


_PMOD = re.compile(r"pmod\((\w+), (\d+)\)")


def _arrow_partition_keys(expr: str, tbl) -> np.ndarray:
    """The value of a partition expression for each row of a pyarrow
    Table, computed on the driver: the twin of the two forms
    ``_PARTITION_EXPRS`` uses, a bare column or ``pmod(col, n)``
    (numpy's ``mod`` by a positive n is Spark's ``pmod``)."""
    if expr in tbl.column_names:
        return tbl[expr].to_numpy()
    m = _PMOD.fullmatch(expr)
    if m is None:
        raise ValueError(f"no driver form of partition expression {expr!r}")
    return np.mod(tbl[m[1]].to_numpy(), int(m[2]))


def _part_dirs(m: dict) -> list[str]:
    """The data directories a table manifest references."""
    return [d for dirs in m["parts"].values() for d in dirs]


class _VersionedTable:
    """Manifest-versioned parquet table with PARTITION-SCOPED writes.

    The pointer, manifests, writer lock, commit and vacuum are the
    shared primitive in :mod:`go_vectorsearch_spark.versioned`; this
    class owns the partition logic on top of it. Each version's
    manifest is ``{"parts": {partition value: [data dirs]}}``, and
    ``<dir>/_data/w{N}/`` holds write batch N's parquet files;
    partitioned tables get one ``_p=<value>`` subdir per touched value
    (the partition column itself stays IN the data files; ``_p`` only
    names the directory).

    A snapshot is a manifest; data directories are immutable and SHARED
    across versions, so a mutation that touches K partitions writes K
    new directories and carries every other partition over by reference
    — a one-document delete no longer rewrites the table (the round-3
    verdict's 100 TB write-path scale-killer). Readers resolve the
    pointer once and scan immutable paths, so they keep their snapshot
    regardless of concurrent writers; time travel = reading an older
    manifest.

    Rows leave a table through ONE path, :meth:`replace_rows`: remove
    the rows whose key is in a frame, append replacements, rewrite only
    the partitions that held a removed row. Upsert, the Engine's
    document delete, category cascade, re-embed and band-store rewrite
    are each one call of it.

    ``partition_expr`` is a SQL expression string (e.g. ``centroid_id``
    or ``pmod(document_id, 32)``) evaluated at write time to route rows
    to partitions; callers pass plain Python values of that expression
    to :meth:`read`'s ``partition_values`` / :meth:`replace_rows`'
    ``parts``.
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
        # retention grace: never GC a data directory sooner than this
        # after it was dereferenced, so a reader that resolved its
        # manifest and is mid-scan keeps its snapshot even if the keep
        # window has moved past it. 0 = count-only (unit tests).
        self.vacuum_min_age_s = vacuum_min_age_s

    def exists(self) -> bool:
        return versioned.exists(self.dir)

    def _version(self) -> int:
        return versioned.version(self.dir)

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending) — the snapshots a
        time-travel read can target. Bounded by the write-time vacuum
        keep window."""
        return versioned.versions(self.dir)

    def _manifest(self, v: int) -> dict[str, list[str]]:
        """parts mapping of version v: partition value (as string; "" for
        unpartitioned) -> data dirs relative to the table dir."""
        return versioned.manifest(self.dir, v)["parts"]

    def _snapshot(self) -> tuple[int, dict[str, list[str]]]:
        """(current version, its parts mapping); (-1, {}) if never written."""
        v, m = versioned.snapshot(self.dir)
        return v, (m["parts"] if m else {})

    def _write_lock(self):
        """The table's cross-process writer lock (versioned.lock): held
        for a mutation's whole read-version → write-batch → commit
        section, reentrant per thread, so upsert/compact can wrap the
        primitives."""
        return versioned.lock(self.dir)

    def _commit(self, v: int, parts: dict[str, list[str]], keep: int) -> None:
        versioned.commit(self.dir, v, {"parts": parts})
        versioned.vacuum(
            self.dir, keep, "_data", _part_dirs, self.vacuum_min_age_s
        )

    def _write_batch(self, df, v: int) -> dict[str, list[str]]:
        """Write df — a DataFrame, or a pyarrow Table of driver rows
        (:meth:`_write_arrow`) — as immutable batch w{v}; return its
        parts mapping.

        mode("overwrite"): a FAILED prior attempt at this version (write
        job died after creating the directory, before _commit moved the
        pointer) leaves an orphan w{v} no committed version references;
        the next mutation recomputes the same v and must be able to
        reclaim the path, or the table wedges on error-if-exists
        forever. Committed batches are never at risk — the pointer
        advance makes v unreachable for later writers."""
        rel = os.path.join("_data", f"w{v}")
        path = os.path.join(self.dir, rel)
        if not isinstance(df, DataFrame):
            return self._write_arrow(df, rel, path)
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

    def _write_arrow(self, tbl, rel: str, path: str) -> dict[str, list[str]]:
        """:meth:`_write_batch` for a pyarrow Table, on the driver with no
        Spark job: rows are routed to ``_p=<value>`` directories by
        :func:`_arrow_partition_keys`, the twin of the partition
        expression, and each directory gets one zstd parquet file with
        row-group statistics (as Spark writes them, so
        :meth:`max_value` reads footers either way). An orphan w{v}
        of a failed attempt is removed first, whole, as the Spark
        form's static overwrite does."""
        import pyarrow.parquet as pq

        shutil.rmtree(path, ignore_errors=True)
        tbl = tbl.select(self._arrow_schema.names).cast(self._arrow_schema)
        if not self.partition_expr:
            groups = [("", rel, tbl)]
        else:
            keys = _arrow_partition_keys(self.partition_expr, tbl)
            groups = [
                (str(k), os.path.join(rel, f"_p={k}"), tbl.filter(keys == k))
                for k in np.unique(keys).tolist()
            ]
        out = {}
        for key, sub, rows in groups:
            os.makedirs(os.path.join(self.dir, sub))
            pq.write_table(
                rows, os.path.join(self.dir, sub, "part-00000.zstd.parquet"),
                compression="zstd",
            )
            out[key] = [sub]
        return out

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
        if version is None:
            _v, parts = self._snapshot()
        elif version < 0:
            raise KeyError(f"{self.name}: version {version} not on disk")
        else:
            parts = self._manifest(version)
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

    def read_arrow(
        self,
        partition_values: Sequence | None = None,
        columns: Sequence[str] | None = None,
        filters=None,
    ):
        """The current snapshot as a pyarrow Table read on the driver,
        or ``None`` when its files hold more than ``LOCAL_READ_ROWS``
        rows — the caller's cue to take its Spark path. The row count
        comes from the parquet footers; no Spark job runs. ``filters``
        is a pyarrow compute expression, pushed into the scan."""
        data = self._arrow_dataset(partition_values)
        if data.count_rows() > LOCAL_READ_ROWS:
            return None
        return data.to_table(columns=columns, filter=filters)

    def lookup(
        self,
        columns: Sequence[str],
        where: dict,
        partition_values: Sequence | None = None,
    ) -> list[tuple]:
        """The ``columns`` of the current snapshot's rows matching every
        ``where`` condition (column -> value, or -> list of values for
        IN), as tuples: one pyarrow scan on the driver with the filter
        pushed in, so only the matches are kept and no job runs.

        Not bounded by ``LOCAL_READ_ROWS``, which caps scored reads:
        against a local[2] Spark collect this scan was faster on the
        owners and categories tables up to 2.5M rows and on a page's
        documents buckets up to 500k rows. On the centroids table, which
        is not partitioned, it was faster up to 200k rows (108 vs
        167 ms) and slower at 500k (308 vs 185 ms)."""
        import pyarrow.compute as pc

        match = reduce(operator.and_, [
            pc.field(c).isin(v) if isinstance(v, list) else pc.field(c) == v
            for c, v in where.items()
        ])
        tbl = self._arrow_dataset(partition_values).to_table(columns=columns, filter=match)
        return list(zip(*(tbl[c].to_pylist() for c in columns)))

    def _arrow_dataset(self, partition_values: Sequence | None = None):
        """The current snapshot's data files as one pyarrow dataset. The
        snapshot resolves once and its immutable files are listed from
        the manifest, as :meth:`read` does, so a read keeps that
        snapshot whatever writers do meanwhile; ``partition_values``
        prunes at the manifest level."""
        import pyarrow.dataset as ds

        _v, parts = self._snapshot()
        if partition_values is not None:
            keys = {str(x) for x in partition_values}
            parts = {k: d for k, d in parts.items() if k in keys}
        return ds.dataset(
            self._data_files(parts), schema=self._arrow_schema, format="parquet"
        )

    @cached_property
    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        return to_arrow_schema(StructType.fromDDL(self.schema))

    def _data_files(self, parts: dict[str, list[str]]) -> list[str]:
        """Paths of the data files a manifest's ``parts`` reference,
        hidden names (``_*``, ``.*``) skipped as Spark skips them."""
        out = []
        for dirs in parts.values():
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
        v, parts = self._snapshot()
        if v < 0:
            return None
        stats = [
            st
            for path in self._data_files(parts)
            for st in _row_group_stats(path, col)
        ]
        if any(st is None or not st.has_min_max for st in stats):
            return self.read(v).agg(F.max(col)).head()[0]
        return max((st.max for st in stats), default=None)

    def write(self, df: DataFrame, keep_versions: int = 2) -> None:
        """Full-snapshot rewrite — for tiny metadata tables and whole-
        table transformations (index refresh reassigns every row). Data-
        plane mutations use :meth:`append` / :meth:`replace_rows`."""
        with self._write_lock():
            v = self._version() + 1
            self._commit(v, self._write_batch(df, v), keep_versions)

    def append(self, df, keep_versions: int = 2) -> None:
        """Add rows without rewriting ANY existing data: the new manifest
        carries every prior directory by reference and adds the new
        batch's. Upload's shape (server/upload.go:288-304's INSERTs).
        ``df`` may be a pyarrow Table of driver rows, written with no
        Spark job (:meth:`_write_arrow`)."""
        with self._write_lock():
            cur, parts = self._snapshot()
            v = cur + 1
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
            cur, prev = self._snapshot()
            v = cur + 1
            scoped = df.filter(
                F.expr(self.partition_expr)
                .cast("string")
                .isin([str(x) for x in partition_values])
            )
            parts = {k: d for k, d in prev.items() if k not in keys}
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
            cur, prev = self._snapshot()
            v = cur + 1
            remove = {str(x) for x in remove_values}
            parts = {k: d for k, d in prev.items() if k not in remove}
            for key, dirs in self._write_batch(df, v).items():
                parts[key] = parts.get(key, []) + dirs
            self._commit(v, parts, keep_versions)

    def replace_rows(
        self,
        key: str,
        keys: DataFrame,
        rows: DataFrame | None = None,
        parts: Sequence | None = None,
        keep_versions: int = 2,
    ) -> None:
        """Remove every row whose ``key`` value is in the one-column
        frame ``keys`` and append ``rows`` to the partitions they route
        to, in ONE commit — the table's only row-removal path (DELETE,
        UPDATE and MERGE as one copy-on-write routine, Delta Lake's
        shape): upserts, deletes, cascades and re-derivations all land
        here.

        Only the partitions that held a removed row are rewritten
        (their survivors, anti-joined on ``keys``); every other
        partition carries over by reference, and ``rows`` join
        whichever partitions they route to through
        :meth:`replace_partitions`. The caller may pass ``parts`` when
        it already holds them (the ids' hash buckets): any superset of
        the holding set gives the same rows. Otherwise
        :meth:`_holding_parts` finds them. Unpartitioned tables rewrite
        whole (they are metadata-sized)."""
        with self._write_lock():
            if not self.partition_expr:
                kept = _keyed(self.read(), keys, key, "left_anti")
                self.write(
                    kept if rows is None else kept.unionByName(rows),
                    keep_versions=keep_versions,
                )
                return
            if parts is None:
                parts = self._holding_parts(key, keys)
            if not parts and rows is None:
                return
            kept = _keyed(
                self.read(partition_values=parts), keys, key, "left_anti"
            )
            self.replace_partitions(
                kept if rows is None else kept.unionByName(rows),
                parts,
                keep_versions=keep_versions,
            )

    def _holding_parts(self, key: str, keys: DataFrame) -> list:
        """Partition values that may hold a row whose ``key`` is in
        ``keys``. When the partition expression reads ``key`` alone
        (the documents' id hash bucket) a row's partition is its key's,
        so they are computed from ``keys`` with no table scan: a
        superset, as a key not in the table names a partition too.
        Otherwise one key-semi-join scan finds them."""
        part = F.expr(self.partition_expr)
        # the columns the expression reads, from its analyzed plan over
        # an empty frame (no job)
        refs = (
            self.spark.createDataFrame([], self.schema)
            .select(part)
            ._jdf.queryExecution()
            .analyzed()
            .references()
            .toSeq()
        )
        if {refs.apply(i).name() for i in range(refs.size())} == {key}:
            found = keys.select(part)
        else:
            found = _keyed(self.read(), keys, key, "left_semi").select(part)
        return [r[0] for r in found.distinct().collect()]

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
        (dnc/dnc.go:159-162) generalized to any table, as one
        :meth:`replace_rows` call. Assumes ``key`` is unique per
        snapshot; a row MAY move partitions (an embedding reassigned to
        a new centroid) — the partition that held its old version is
        rewritten, so no stale twin is left behind."""
        self.replace_rows(key, df.select(key), df, keep_versions=keep_versions)

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
        v, parts = self._snapshot()
        if v < 0:
            return []
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
    from go_vectorsearch_spark.plans.ivf import _rank_centroids

    if not cent_rows:
        return []
    ids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    mat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    return _rank_centroids(ids, mat, list(query_vec), nprobe, rounded=True)


def _rank_key(row) -> tuple[float, int]:
    """The engine's (round(score, 6) desc, id asc) total order, on the
    driver."""
    return (-round6(row["score"]), row["document_id"])


def _cut_per_query(scored: DataFrame, n: int) -> DataFrame:
    """Each query's top-``n`` rows of a (q_ix, document_id, score)
    frame, cut by one window in the (round(score, 6) desc, id asc)
    order."""
    from pyspark.sql import Window

    w = Window.partitionBy("q_ix").orderBy(
        F.desc(F.round("score", 6)), F.asc("document_id")
    )
    return scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n
    )


def _collect_by_query(legs: dict[str, DataFrame]) -> dict[str, dict[int, list]]:
    """Collect ranked (q_ix, document_id, score[, vector]) frames in ONE
    Spark action, unioned under a leg tag, and return per leg
    {q_ix: rows in (round(score, 6) desc, id asc) order}."""
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [frame.withColumn("_leg", F.lit(leg)) for leg, frame in legs.items()],
    )
    out: dict[str, dict[int, list]] = {leg: {} for leg in legs}
    for r in sorted(union.collect(), key=lambda r: (r["q_ix"], _rank_key(r))):
        out[r["_leg"]].setdefault(r["q_ix"], []).append(r)
    return out


def _merge_top(a: list, b: list, n: int) -> list:
    """The top-``n`` of two ranked row lists by per-document max score.
    Exact for probe widening (the incremental top-k merge): a document's
    best chunk lies in one round's lists, and that round's top-n holds
    the document whenever the union's top-n does."""
    best: dict[int, object] = {}
    for r in (*a, *b):
        d = r["document_id"]
        if d not in best or r["score"] > best[d]["score"]:
            best[d] = r
    return sorted(best.values(), key=_rank_key)[:n]


def _local_topk(doc_ids, chunk_ids, scores, n: int, vectors=None) -> list:
    """:func:`brute_force_topk` (with ``vectors``: its ``_with_vector``
    form) over chunks already scored on the driver: each document's best
    chunk (highest score, then lowest chunk id, the ``max_by`` tie
    rule) in (round(score, 6) desc, id asc) order, cut to ``n``. Returns
    (document_id, score[, vector]) rows."""
    if not len(doc_ids):
        return []
    order = np.lexsort((chunk_ids, -scores, doc_ids))
    docs = doc_ids[order]
    best = order[np.r_[True, docs[1:] != docs[:-1]]]
    best = best[np.lexsort((doc_ids[best], -round6_array(scores[best])))][:n]
    if vectors is None:
        return [Row(document_id=int(doc_ids[i]), score=float(scores[i])) for i in best]
    return [
        Row(document_id=int(doc_ids[i]), score=float(scores[i]), vector=vectors[i].tolist())
        for i in best
    ]


def _rrf(legs: Sequence[list], c: int) -> list:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of ranked (document_id, score) row lists, on the driver: fused(d) =
    Σ 1/(c + rank) over the legs that hold d, each leg already in the
    (round(score, 6) desc, id asc) order that ranks it. Returns
    (document_id, score) rows in that order (fulltext.rrf_fuse is the
    same fusion as a Spark plan)."""
    fused: dict[int, float] = {}
    for leg in legs:
        for rank, r in enumerate(leg, start=1):
            d = r["document_id"]
            fused[d] = fused.get(d, 0.0) + 1.0 / (c + rank)
    return sorted(
        (Row(document_id=d, score=s) for d, s in fused.items()), key=_rank_key
    )


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


def _keyed(df: DataFrame, keys: DataFrame, key: str, how: str) -> DataFrame:
    """``df`` semi- (``how="left_semi"``) or anti-joined (``"left_anti"``)
    on ``key`` against the one-column frame ``keys``. A driver-local
    ``keys`` (a LocalRelation, e.g. :func:`_local_frame`) becomes an
    ``IN`` literal instead: collecting it runs no job, the literal
    prunes parquet row groups, and no broadcast job ships it."""
    plan = keys._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return df.join(keys, key, how)
    hit = F.col(key).isin([r[0] for r in keys.collect()])
    return df.filter(hit if how == "left_semi" else ~hit)


def _local_frame(spark: SparkSession, schema, rows: Sequence[tuple]) -> DataFrame:
    """``rows`` as a DataFrame over an Arrow table with ``schema`` (a
    pyarrow schema). Spark plans it as a LocalRelation, so building it
    runs no job and neither does its collect(); a frame built from a
    Python list is an RDD scan and pays one job per action."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def _id_frame(
    spark: SparkSession, ids: Sequence[int], col: str = "document_id"
) -> DataFrame:
    """A driver-local one-column frame of ``ids``: the keys of a point
    rewrite, which :func:`_keyed` turns into an ``IN`` literal."""
    return _local_frame(spark, pa.schema([(col, pa.int64())]), [(i,) for i in ids])


def assign_embedding_ids(
    chunks: DataFrame,
    base_emb: int,
    base_doc: int | None = None,
) -> DataFrame:
    """Unique, deterministic embedding_id per (doc_id, chunk_idx) with NO
    global sort: id = base + (doc_id - base_doc) * stride + chunk_idx,
    base_doc = the batch's min doc_id unless given and stride = max
    chunks per doc in the batch (one tiny agg job). A row_number over an
    unpartitioned Window would funnel the whole batch through one task —
    the wrong shape for bulk ingest. Ids are gappy (stride
    over-allocates); id allocation is max+1 so gaps are harmless. An
    upload computes the same ids on the driver."""
    lo, hi = chunks.agg(F.min("doc_id"), F.max("chunk_idx")).head()
    base_doc = lo if base_doc is None else base_doc
    stride = (hi or 0) + 1
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

        # refresh_index and re-embed run pandas UDFs that import this
        # package on Spark's Python workers, which do not share the
        # driver's sys.path
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
        """One query vector: :meth:`_embed_queries` of one text."""
        return self._embed_queries([qtext])[0]

    # -- id allocation ----------------------------------------------------
    def _next_id(self, table: str, id_col: str) -> int:
        top = self.t[table].max_value(id_col)
        return (top if top is not None else 0) + 1

    def _get_or_create(self, table: str, id_col: str, filters: dict) -> int:
        hit = self.t[table].lookup([id_col], filters)
        if hit:
            return hit[0][0]
        new_id = self._next_id(table, id_col)
        self.t[table].append(pa.Table.from_pylist([{id_col: new_id, **filters}]))
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
            if cid is None or not versioned.exists(self._neardup_path(cid)):
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
        # the whole request runs on the driver, as the reference's
        # in-process pass does: chunk (a bad payload fails before any
        # write), embed, seed, assign, then two Arrow appends — no Spark
        # job
        doc_chunks = [
            document_chunks(d.get("name", ""), d["document"], ctx_num=2048)
            for d in documents
        ]
        base_doc = self._next_id("documents", "document_id")
        ids = [base_doc + i for i in range(len(documents))]
        doc_of = np.repeat(np.array(ids, dtype=np.int64), list(map(len, doc_chunks)))
        chunk_idx = np.concatenate([np.arange(len(c)) for c in doc_chunks])
        # Embed → quantized codes immediately (the reference never holds
        # full precision past the decode boundary, ai/aicomms/embed.go:
        # 42-50); the dequantized vectors only seed and assign
        codes, lo, hi = embed_texts(
            [c for texts in doc_chunks for c in texts],
            dim=self.embed_dim,
            providers=[self.provider] if self.provider else None,
        )
        vecs = dequantize_array(codes, lo, hi)

        # one fresh read of the category's centroids: a cached list
        # another process has since replaced could assign into a list
        # that no longer exists
        cents = self._category_centroids(category_id, fresh=True)
        if not cents:
            # first upload of a category seeds centroid #1 with the
            # first chunk's embedding (server/upload.go:210-227)
            seed_id = self._next_id("centroids", "centroid_id")
            cents = [(seed_id, vecs[0].tolist())]
            self.t["centroids"].append(
                pa.Table.from_pylist([
                    {"centroid_id": seed_id, "category_id": category_id,
                     "vector": cents[0][1]},
                ])
            )

        # nearest-centroid assignment (server/upload.go:239-245, J5/V3)
        assigned = nearest_ids(
            vecs, [(int(c), np.asarray(v, dtype=np.float64)) for c, v in cents]
        )
        base_emb = self._next_id("embeddings", "embedding_id")
        # assign_embedding_ids' arithmetic: stride = the most chunks of
        # any document in the request
        stride = max(map(len, doc_chunks))
        dim = codes.shape[1]
        new_emb = pa.table({
            "embedding_id": base_emb + (doc_of - base_doc) * stride + chunk_idx,
            "document_id": doc_of,
            "centroid_id": assigned,
            "codes": pa.ListArray.from_arrays(
                np.arange(0, codes.size + 1, dim, dtype=np.int32),
                codes.astype(np.int32).ravel(),
            ),
            "lo": lo,
            "hi": hi,
        })
        new_docs = pa.Table.from_pylist([
            {"document_id": doc_id, "name": d.get("name", ""),
             "external_id": d.get("external_id", ""),
             "payload_json": d["document"], "category_id": category_id}
            for doc_id, d in zip(ids, documents)
        ])
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
        self._invalidate_cache()  # owner/category/centroids may have changed
        # a category WITH a text index stays hybrid-consistent without
        # manual maintenance: the new documents' postings append
        # incrementally (the lexical twin of the upload's incremental
        # centroid assignment); categories without one pay nothing
        if versioned.exists(self._text_index_path(category_id)):
            self.append_text_index(owner, category, ids)
        # same contract for the near-dup band index (regardless of the
        # neardup mode: an indexed category stays checkable after plain
        # uploads too)
        if versioned.exists(self._neardup_path(category_id)):
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
    # The five search forms share one retrieval core: _embed_queries,
    # then _retrieve (driver-side probe ranking, _score, the widening
    # loop), then each form's own driver step (a slice, mmr_select or
    # _rrf) and _hydrate.
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
        """Vector search (server/search.go:115-334): the page
        ``[offset, offset + count)`` of :meth:`_retrieve`'s ranking.
        ``where`` — an optional Column predicate over the documents
        table — pre-filters and widens as :meth:`_retrieve` describes,
        so the page holds ``count`` matching documents whenever that
        many matches exist."""
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:  # missing owner/category -> empty result
            return self._page_frame([])  # (server/search.go:156-177)
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        top, _ = self._retrieve(scope, [qvec], count + offset, nprobe, where)
        return self._hydrate(top.get(0, [])[offset:], scope)

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
        """Batched search (engine extension; the reference serves one
        request per HTTP call): N query texts embedded in one provider
        round-trip and ranked by ONE :meth:`_retrieve` call, whose
        broadcast-probe plan scores a chunk once per query probing its
        list. Returns (q_ix, document_id, name, external_id,
        payload_json, score), ``q_ix`` indexing ``texts``; each query's
        page equals :meth:`search`'s (tested), ``where`` included."""
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._page_frame([], batched=True)
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        top, _ = self._retrieve(scope, qvecs, count + offset, nprobe, where)
        return self._hydrate(
            {ix: rows[offset:] for ix, rows in top.items()}, scope, batched=True
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
        (Carbonell & Goldstein 1998) of :meth:`_retrieve`'s
        top-``pool`` candidates, which carry their best-chunk vectors —
        the page trades pure relevance for coverage, so a corpus with
        many near-identical top hits doesn't fill the page with copies.

        ``mmr_lambda`` in [0, 1]: 1 = pure relevance (reproduces
        :meth:`search`'s ranking exactly, pool permitting), 0 = pure
        diversity. The reported ``score`` stays the ORIGINAL cosine
        relevance; the page order is the MMR selection order. The greedy
        loop runs on the driver over the page-scale pool (see
        operators/search.mmr_select)."""
        if not 0.0 <= mmr_lambda <= 1.0:
            raise ValueError(f"search_diverse: mmr_lambda {mmr_lambda} not in [0, 1]")
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        pool = max(int(pool), count + offset)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._page_frame([])
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        top, _ = self._retrieve(scope, [qvec], pool, nprobe, where, with_vector=True)
        rows = top.get(0, [])
        # relevance = Spark's round(score, 6), the engine's ranking
        # precision, so lambda=1 reproduces search()'s order including
        # its rounded-tie id-ascending resolution (the pool arrives in
        # that order and argmax keeps the first max)
        picks = mmr_select(
            [round6(r["score"]) for r in rows],
            [r["vector"] for r in rows],
            count + offset,
            mmr_lambda,
        )
        return self._hydrate([rows[i] for i in picks[offset:]], scope)

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
        """Batched hybrid search: the batch form of
        :meth:`search_hybrid`, with per-query pages identical to it
        (tested). The vector leg is one batched :meth:`_retrieve`; the
        lexical leg scores ALL queries against ONE postings scan pruned
        to the union of their term buckets (fulltext.bm25_score_many,
        whose idf/df and corpus scalars are the single-query scorer's).
        Both legs are collected in one Spark action, and each query's two
        top-``fuse_depth`` legs fuse in :func:`_rrf`."""
        import re as _re

        from go_vectorsearch_spark.operators.fulltext import (
            TOKEN_SPLIT_RE,
            bm25_score_many,
            read_postings,
        )

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._page_frame([], batched=True)
        path = self._text_index_path(scope)
        if not versioned.exists(path):
            raise ValueError(
                f"search_many_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        q_terms = [
            sorted({t for t in _re.split(TOKEN_SPLIT_RE, t.lower()) if t})
            for t in texts
        ]
        all_terms = sorted({t for ts in q_terms for t in ts})
        scored = (
            bm25_score_many(
                self.spark, read_postings(self.spark, path, all_terms)[0], q_terms
            )
            if all_terms
            else None
        )
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        vector, lexical = self._retrieve(
            scope, qvecs, fuse_depth, nprobe,
            lexical=None if scored is None else _cut_per_query(
                scored.withColumnRenamed("doc_id", "document_id"), fuse_depth
            ),
        )
        return self._hydrate(
            {
                ix: _rrf([lexical.get(ix, []), vector.get(ix, [])], rrf_c)[
                    offset : offset + count
                ]
                for ix in range(len(texts))
            },
            scope,
            batched=True,
        )

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
        """All query vectors, driver-side, in ONE provider round-trip
        (the reference embeds the query with the same provider call as
        uploads, server/search.go:124-147). HTTP mode posts one batch
        and dequantizes each vector: the reference scores the query
        against dequantized stored vectors with the query itself having
        passed through the same u8 codec. Noop mode hashes each text
        in-process with the expression's pure-Python twin
        (documents.noop_embed_text) and runs no Spark job."""
        if not self.provider:
            return [noop_embed_text(t, dim=self.embed_dim) for t in qtexts]
        codes, lo, hi = self._embed_once_failover(qtexts)
        return [row.astype(float).tolist() for row in dequantize_array(codes, lo, hi)]

    def _retrieve(
        self,
        scope: int,
        qvecs: list,
        n: int,
        nprobe: int,
        where=None,
        with_vector: bool = False,
        lexical: DataFrame | None = None,
    ) -> tuple[dict[int, list], dict[int, list]]:
        """THE retrieval core: each query's top-``n`` documents by
        best-chunk cosine, as :meth:`_score` returns them, keyed by the
        query's index in ``qvecs`` (a query with no hit is absent); the
        hybrid forms' ``lexical`` leg rides in the first scoring action
        and comes back second, like :meth:`_score`'s.

        T1 probe ranking runs on the driver over the TTL-cached
        centroids — the reference's in-process V2 cosine
        (server/search.go:202-227) — and so, without ``where`` and under
        ``LOCAL_READ_ROWS``, does the probed scan (:meth:`_score`): a
        repeat search runs no Spark job at all, as the reference answers
        in process.

        ``where`` (a Column predicate over the documents table)
        PRE-filters the scored chunks through a doc-id semi-join
        (plans/ivf.ivf_search(where=) semantics), then widens: a
        selective predicate can thin the probed lists below ``n`` while
        matches sit in unprobed lists, so the probe set of each
        underfilled query doubles until it holds min(n, |allowed|)
        documents or every list is probed. |allowed| is counted lazily,
        once, only when some query underfills. Each round scores only
        the newly added lists and merges on the driver by per-document
        max (:func:`_merge_top`, the incremental top-k merge). Like
        every stop-on-fill ANN loop, a match found in the last round
        carries its probe-limited score (a better chunk of it may sit in
        a list still unprobed). Without ``where`` the reference's fixed
        nprobe stands."""
        cents = self._category_centroids(scope)
        allowed = None if where is None else self._allowed_docs(scope, where)
        top, lexical = self._score(
            [(ix, qv, _rank_probe_ids(cents, qv, nprobe)) for ix, qv in enumerate(qvecs)],
            n,
            allowed,
            with_vector,
            lexical,
        )
        if where is None:
            return top, lexical
        target, ranked = None, {}
        probed = min(nprobe, len(cents))
        while probed < len(cents):
            under = [ix for ix in range(len(qvecs)) if len(top.get(ix, ())) < n]
            if under and target is None:
                target = min(n, allowed.count())
            under = [ix for ix in under if len(top.get(ix, ())) < target]
            if not under:
                break
            if not ranked:  # the underfilled set only shrinks
                ranked = {
                    ix: _rank_probe_ids(cents, qvecs[ix], len(cents)) for ix in under
                }
            nxt = min(probed * 2, len(cents))
            sub, _ = self._score(
                [(ix, qvecs[ix], ranked[ix][probed:nxt]) for ix in under],
                n,
                allowed,
                with_vector,
            )
            for ix, rows in sub.items():
                top[ix] = _merge_top(top.get(ix, []), rows, n)
            probed = nxt
        return top, lexical

    def _score(
        self,
        probes: list[tuple[int, list, list[int]]],
        n: int,
        allowed: DataFrame | None = None,
        with_vector: bool = False,
        lexical: DataFrame | None = None,
    ) -> tuple[dict[int, list], dict[int, list]]:
        """THE scorer entry: ``probes`` are (q_ix, qvec, list_ids)
        triples; returns each query's top-``n`` documents by best-chunk
        cosine over its lists as (document_id, score[, vector]) rows in
        (round(score, 6) desc, id asc) order, keyed by q_ix.

        The read holds only the probed lists, pruned at the MANIFEST
        level. Without ``allowed``, when the lists hold at most
        ``LOCAL_READ_ROWS`` rows (:meth:`_VersionedTable.read_arrow`),
        they are ranked on the driver with no Spark job
        (:meth:`_score_local`), bit for bit as the Spark path ranks
        them.

        The Spark path dequantizes the stored codes inside the cosine
        expression; ``allowed`` (a document_id frame) semi-joins in
        before scoring. One query folds its vector into the plan as a
        literal (brute_force_topk: groupBy-max + TakeOrdered; with
        ``with_vector`` the best chunk's vector rides along). Several
        queries broadcast a (q_ix, qvec, centroid_id) frame into the
        union of their lists, so a chunk scores once per query probing
        its list, and one window cuts each query's top-n.

        ``lexical`` — a hybrid form's BM25 leg, a (q_ix, document_id,
        score) frame already cut to each query's top-n — is collected in
        the Spark path's action, so the two legs pay one result stage
        (alone when the vector leg ran on the driver); its rows come
        back second, ranked and keyed the same way ({} without it)."""
        probes = [p for p in probes if p[2]]
        legs = {} if lexical is None else {"lexical": lexical}
        lists = sorted({c for _, _, ids in probes for c in ids})
        local = (
            self._score_local(lists, probes, n, with_vector)
            if probes and allowed is None
            else None
        )
        if probes and local is None:
            raw = (
                self.t["embeddings"]
                .read(partition_values=lists)
                .filter(F.col("centroid_id").isin(lists))  # belt-and-braces
            )
            if allowed is not None:
                raw = raw.join(allowed, "document_id", "left_semi")
            emb = dequantized_vector(raw)
            if len(probes) == 1:
                (q_ix, qvec, _ids), = probes
                topk = (brute_force_topk_with_vector if with_vector else brute_force_topk)(
                    emb, qvec, n, id_col="embedding_id",
                    vec_col="vector", doc_col="document_id",
                )
                if not legs:  # a root TakeOrdered: its collect needs no cut stage
                    return {q_ix: topk.collect()}, {}
                legs["vector"] = topk.withColumn("q_ix", F.lit(q_ix))
            else:
                from go_vectorsearch_spark.functions.vector import cosine_similarity

                probe = self.spark.createDataFrame(
                    [(ix, [float(x) for x in qv], c) for ix, qv, ids in probes for c in ids],
                    "q_ix long, _qvec array<double>, centroid_id long",
                )
                legs["vector"] = _cut_per_query(
                    emb.join(F.broadcast(probe), "centroid_id")
                    .groupBy("q_ix", "document_id")
                    .agg(
                        F.max(cosine_similarity(F.col("vector"), F.col("_qvec"))).alias("score")
                    ),
                    n,
                )
        got = _collect_by_query(legs) if legs else {}
        return local or got.get("vector", {}), got.get("lexical", {})

    def _score_local(
        self,
        lists: list[int],
        probes: list[tuple[int, list, list[int]]],
        n: int,
        with_vector: bool,
    ) -> dict[int, list] | None:
        """:meth:`_score`'s driver path: one pyarrow read of the probed
        lists, dequantized in float32 and scored by the sequential-fold
        cosine (functions.vector's driver twins of the Spark
        expressions), each query over its own lists with the same code,
        ranked by :func:`_local_topk`. ``None`` — take the Spark path —
        when the lists hold more than ``LOCAL_READ_ROWS`` rows or a
        stored vector's width is not the query's."""
        import pyarrow.compute as pc

        tbl = self.t["embeddings"].read_arrow(
            lists,
            ["embedding_id", "document_id", "centroid_id", "codes", "lo", "hi"],
            pc.field("centroid_id").isin(lists),
        )
        dim = len(probes[0][1])
        if tbl is None or (pc.list_value_length(tbl["codes"]).to_numpy() != dim).any():
            return None
        vecs = dequantize_array(
            pc.list_flatten(tbl["codes"]).to_numpy().reshape(-1, dim),
            tbl["lo"].to_numpy(),
            tbl["hi"].to_numpy(),
        )
        # rows grouped by list, so a query's lists are slices of the
        # read; one float64 copy and one norm fold per read, shared by
        # every query of the batch
        order = np.argsort(tbl["centroid_id"].to_numpy(), kind="stable")
        eids, docs, cents = (
            tbl[c].to_numpy()[order]
            for c in ("embedding_id", "document_id", "centroid_id")
        )
        vecs = vecs[order]
        cols = columns_f64(vecs)
        norms = norm_columns(cols)
        out = {}
        for q_ix, qvec, ids in probes:
            ids = np.unique(ids)
            spans = [
                (a, b)
                for a, b in zip(
                    np.searchsorted(cents, ids), np.searchsorted(cents, ids, "right")
                )
                if a < b
            ]
            if not spans:
                continue
            sel = np.concatenate([np.arange(a, b) for a, b in spans])
            scores = np.concatenate(
                [cosine_columns(cols[:, a:b], norms[a:b], qvec) for a, b in spans]
            )
            rows = _local_topk(
                docs[sel], eids[sel], scores, n, vecs[sel] if with_vector else None
            )
            if rows:
                out[q_ix] = rows
        return out

    def _hydrate(
        self, page_rows, scope: int, batched: bool = False
    ) -> DataFrame:
        """Hydrate a ranked page of (document_id, score) rows — when
        ``batched``, a {q_ix: page} dict — into the search result.

        The reference collects the page's ids and hydrates them with a
        separate point query (server/search.go:285-308); so does this:
        one documents read pruned at the manifest level to the page
        ids' HASH BUCKETS and filtered to the ids and the category
        (:meth:`_VersionedTable.lookup`: a pyarrow scan, no job), joined
        to the page on the driver. The rows keep the caller's order,
        which is already the rank: the (round(score, 6) desc, id asc)
        order, the MMR selection order or the fused order; batched pages follow in q_ix order. A page
        id whose document was deleted after the top-k is dropped.
        """
        pages = (
            [((ix,), page) for ix, page in sorted(page_rows.items())]
            if batched
            else [((), page_rows)]
        )
        ids = sorted({int(r["document_id"]) for _, page in pages for r in page})
        if not ids:
            return self._page_frame([], batched)
        docs = {
            d[0]: d
            for d in self.t["documents"].lookup(
                ["document_id", "name", "external_id", "payload_json"],
                {"document_id": ids, "category_id": scope},
                partition_values=sorted({i % N_DOC_BUCKETS for i in ids}),
            )
        }
        return self._page_frame(
            [
                q_ix + tuple(d) + (float(r["score"]),)
                for q_ix, page in pages
                for r in page
                if (d := docs.get(r["document_id"])) is not None
            ],
            batched,
        )

    def _page_frame(self, rows: list[tuple], batched: bool = False) -> DataFrame:
        """A search result (``q_ix`` first when ``batched``) as a
        :func:`_local_frame`, so its collect() runs no job."""
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

        from go_vectorsearch_spark.operators.fulltext import ConcurrentWriteError

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
            base_v = versioned.version(path)
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
            compact_postings,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_text_index: unknown {owner}/{category}")
        path = self._text_index_path(cid)
        if not versioned.exists(path):
            raise ValueError(
                f"append_text_index: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        if not document_ids:
            return 0
        # a tombstoned id hides its postings until a compaction clears
        # the list — and ids do come back: allocation is max+1 over the
        # surviving rows, so deleting the newest document hands its id
        # to the next upload. Purge first whenever an appended id is
        # tombstoned (a driver-side manifest read, no job otherwise)
        tombstones = versioned.snapshot(path)[1].get("tombstones", [])
        if set(document_ids) & set(tombstones):
            compact_postings(self.spark, path)
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
        goes through :func:`_keyed` — the bulk shape, no O(ids) driver
        materialization — optionally pruned by a precomputed ``buckets``
        list (bounded by N_DOC_BUCKETS regardless of id count)."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf

        if document_ids is None:
            base = self.t["documents"].read()
        elif isinstance(document_ids, DataFrame):
            base = _keyed(
                self.t["documents"].read(partition_values=buckets),
                document_ids.select("document_id"),
                "document_id",
                "left_semi",
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
        # tokenize + md5 would run twice over the category. The window
        # frame is held only while the report is computed: it comes back
        # as a local frame (Arrow rows), so no cache entry outlives the call.
        with persist.Scope() as scope:
            windows = scope.hold(SUB.window_hashes(
                self._category_doc_texts(cid),
                L=L,
                id_col="document_id",
                text_col="_text",
            ))
            return self.spark.createDataFrame(SUB.exact_substr_stats(
                self._category_doc_texts(cid),
                L=L,
                id_col="document_id",
                text_col="_text",
                windows=windows,
            ).toArrow())

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
        from go_vectorsearch_spark.operators.documents import (
            _format_rejoined_string,
            format_rejoined_text,
        )

        with persist.Scope() as scope:
            texts = scope.hold(self._category_doc_texts(cid))
            windows = scope.hold(SUB.window_hashes(
                texts, L=L, id_col="document_id", text_col="_text"
            ))
            # iterate > 1 hands its persisted fixpoint result to this scope
            cut = scope.adopt(SUB.exact_substr_cut(
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
            ))
            return self._rewrite_category_texts(
                owner, category, cid, cut, texts, scope, re_embed=re_embed
            )

    def _rewrite_category_texts(
        self,
        owner: str,
        category: str,
        cid: int,
        cut: DataFrame,
        texts: DataFrame,
        scope: persist.Scope,
        re_embed: bool = False,
    ) -> int:
        """Apply a cleaned-text frame (document_id, text) to a stored
        category — the shared write machinery of :meth:`substr_dedup_cut`
        and :meth:`decontaminate_cut`: detect changed documents against
        the current flattened texts, rewrite ONLY them with one
        :meth:`_VersionedTable.replace_rows` per store (payload = JSON
        string literal of the cleaned text), and keep the text index and
        band store consistent.

        ``re_embed=True`` additionally re-runs the upload path's
        chunk → embed → quantize → assign stages for the changed
        documents and swaps their embedding rows in ONE atomic
        replace_rows commit (survivors of the touched centroid
        partitions + the fresh rows) — vector search then serves the cut
        content instead of the pre-cut embeddings. Costs one embed call
        per changed chunk; assignment reuses the category's existing
        centroids (run refresh_index after bulk cuts if drift matters).

        Scale shape: at or below :data:`BULK_REWRITE_CAP` changed
        documents the ids come to the driver (manifest tombstones in the
        text index, IN literals in every keyed scan). Above it the
        changed set stays a DataFrame end-to-end — the driver holds only
        each store's touched partitions — and the text index REBUILDS
        over the cut snapshot: a whole-corpus cut changes a constant
        fraction of documents, so the rebuild is proportional work and
        scores bit-identically. Cleaned text is
        :func:`~go_vectorsearch_spark.operators.documents.format_text_udf`
        normalized before storage, so flatten(new payload) round-trips
        to EXACTLY the stored text; both cut callers already normalize
        inside the cut, so the UDF is an idempotent final truth.
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
        # guarantee). ``scope`` — the caller's, owner of a handed-off ``cut``
        changed = scope.hold(
            cut.join(texts, "document_id")
            .filter(F.col("text") != F.col("_text"))
            # _dl: the PRE-cut token count the text-index tombstone
            # needs (the delete_documents pattern); computed on both
            # paths, since which one runs is known only after the count
            .select(
                "document_id",
                format_text_udf(F.col("text")).alias("text"),
                F.size(tokenize(F.col("_text"))).alias("_dl"),
            )
        )
        n_changed = int(changed.count())
        # the count above fully materialized `changed`, the only
        # consumer of the cut plan — release the fixpoint's persisted
        # result now (a no-op when the cut was lazy or borrowed)
        scope.release(cut)
        if n_changed == 0:
            return 0
        if n_changed <= BULK_REWRITE_CAP:
            # the point shape: the changed ids come to the driver (with
            # the pre-cut dls the text-index tombstone needs), and every
            # keyed scan below takes them as an IN literal
            meta = changed.select("document_id", "_dl").collect()
            dl_by_doc = {r["document_id"]: int(r["_dl"]) for r in meta}
            ids = _id_frame(self.spark, sorted(dl_by_doc))
            buckets = sorted({i % N_DOC_BUCKETS for i in dl_by_doc})
        else:
            # the bulk shape: the changed set stays a frame, and a bulk
            # cut touches most buckets, so reads are not bucket-pruned
            dl_by_doc, buckets = None, None
            ids = changed.select("document_id")
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
        self.t["documents"].replace_rows("document_id", ids, upd, parts=buckets)
        if re_embed:
            self._re_embed_documents(cid, ids, buckets)
        # text index: below the cap, tombstone the pre-cut postings and
        # append the changed documents re-read from the NEW snapshot
        # (the append compacts first, since their ids are tombstoned).
        # Above the cap, rebuild over the cut snapshot — proportional
        # work for a whole-corpus cut, id-list-free, and bit-identical
        # scoring either way.
        tpath = self._text_index_path(cid)
        if versioned.exists(tpath):
            from go_vectorsearch_spark.operators.fulltext import delete_postings

            if dl_by_doc is not None:
                delete_postings(
                    self.spark, tpath, sorted(dl_by_doc), dl_by_doc=dl_by_doc
                )
                self.append_text_index(owner, category, sorted(dl_by_doc))
            else:
                n_buckets = int(versioned.snapshot(tpath)[1]["n_buckets"])
                self.build_text_index(owner, category, n_buckets=n_buckets)
        # near-dup band store: the changed documents' band rows derive
        # from the text — swap exactly theirs for rows of the new text
        if versioned.exists(self._neardup_path(cid)):
            self._neardup_table(cid).replace_rows(
                "document_id",
                ids,
                self._doc_band_rows(
                    self._category_doc_texts(cid, ids, buckets=buckets),
                    "document_id",
                ),
            )
        self._invalidate_cache()
        return n_changed

    def _re_embed_documents(
        self, cid: int, ids: DataFrame, buckets: list[int] | None
    ) -> None:
        """Swap the embedding rows of the ``ids`` frame's documents for
        fresh ones derived from their CURRENT payloads: the upload
        path's chunk → embed → quantize → assign stages over the new
        snapshot, committed with ONE
        :meth:`_VersionedTable.replace_rows` (the centroid partitions
        that held stale rows lose them and gain the fresh assignments
        in the same version — no reader ever sees a document
        half-vectored). ``buckets`` — the ids' hash buckets, or None
        for all — prunes the documents read. The only driver
        materializations are the touched centroid partitions (bounded by
        the category's centroid count) and one (min doc id, max chunk
        index) aggregate."""
        docs = (
            _keyed(
                self.t["documents"].read(partition_values=buckets),
                ids,
                "document_id",
                "left_semi",
            )
            .filter(F.col("category_id") == cid)
            .select(
                F.col("document_id").alias("doc_id"),
                "name",
                "external_id",
                "payload_json",
            )
        )
        with persist.Scope() as scope:
            chunks = scope.hold(dequantized_vector(
                self._embed_chunks(prepare_chunks(docs, ctx_num=2048))
            ))
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
            new_emb = assign_embedding_ids(assigned, base_emb).select(
                "embedding_id",
                F.col("doc_id").alias("document_id"),
                "centroid_id",
                "codes",
                "lo",
                "hi",
            )
            self.t["embeddings"].replace_rows("document_id", ids, new_emb)

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
        from go_vectorsearch_spark.operators.documents import (
            format_rejoined_text,
        )

        # one flatten pass per cut call (see substr_dedup_cut): texts
        # feeds the window hashing, the rebuild and the change detection
        with persist.Scope() as scope:
            texts = scope.hold(self._category_doc_texts(cid))
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
                owner, category, cid, cut, texts, scope, re_embed=re_embed
            )

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
        with persist.Scope() as scope:
            texts = scope.hold(self._category_doc_texts(cid))
            # the fixpoint hands its persisted result to this scope
            cut = scope.adopt(strip_boilerplate_fixpoint(
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
            ))
            return self._rewrite_category_texts(
                owner, category, cid, cut, texts, scope, re_embed=re_embed
            )

    def build_neardup_index(self, owner: str, category: str) -> int:
        """Build (or rebuild) the category's persisted near-dup band
        index over the flattened document texts. Returns the number of
        indexed documents (shingle-less docs contribute no rows)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"build_neardup_index: unknown {owner}/{category}")
        t = self._neardup_table(cid)
        # held so the write materializes the band rows ONCE and the
        # return-value count reuses them — no read-back of the store
        with persist.Scope() as scope:
            rows = scope.hold(
                self._doc_band_rows(self._category_doc_texts(cid), "document_id")
            )
            t.write(rows)
            return rows.select("document_id").distinct().count()

    def append_neardup_index(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Incrementally index newly uploaded documents: their band rows
        APPEND; untouched bucket partitions carry by manifest reference
        (the upload path's discipline, like :meth:`append_text_index`)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_neardup_index: unknown {owner}/{category}")
        if not versioned.exists(self._neardup_path(cid)):
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
        texts = self._category_doc_texts(cid)
        # the signatures feed two join sides + the verify: held while the
        # report is computed, which comes back as a local frame
        with persist.Scope() as scope:
            sigs = scope.hold(DD.signature_frame(
                DD.shingled_docs(texts, "document_id", "_text")
            ))
            return self.spark.createDataFrame(DD.minhash_lsh_pairs(
                texts,
                id_col="document_id",
                text_col="_text",
                threshold=threshold,
                signatures=sigs,
            ).select(
                F.col("id_a").alias("document_id_a"),
                F.col("id_b").alias("document_id_b"),
                "jaccard",
            ).toArrow())

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
        if not versioned.exists(self._neardup_path(cid)):
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
        if not versioned.exists(self._neardup_path(cid)):
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
        """Hybrid search: the BM25 top-``fuse_depth`` and
        :meth:`_retrieve`'s vector top-``fuse_depth`` fused on the
        driver by :func:`_rrf` (both legs collected in one Spark
        action), then paged and hydrated like
        :meth:`search`. Requires :meth:`build_text_index` to have run
        for the category (the same explicit-build contract as the
        centroid index). A leg with no hits contributes nothing to the
        fusion.

        ``where`` (an optional Column predicate over the documents
        table: name/external_id/payload_json/document_id) PRE-filters
        BOTH legs — the category-scoped allowed doc ids semi-join into
        the probed embeddings before vector scoring (with the core's
        widening) and into the term-pruned postings before BM25
        ranking — so a filtered page holds ``count`` matching documents
        whenever that many live matches exist. The same generalization
        of the reference's category scoping (server/search.go:229-233)
        that plans/ivf.ivf_search(where=) makes for raw stores."""
        from go_vectorsearch_spark.operators.fulltext import bm25_search_stored

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._page_frame([])
        path = self._text_index_path(scope)
        if not versioned.exists(path):
            raise ValueError(
                f"search_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        lexical = bm25_search_stored(
            self.spark, path, text, k=fuse_depth,
            allowed=None if where is None else self._allowed_docs(scope, where),
        ).select(F.lit(0).alias("q_ix"), F.col("doc_id").alias("document_id"), "score")
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        vector, lexical = self._retrieve(
            scope, [qvec], fuse_depth, nprobe, where, lexical=lexical
        )
        fused = _rrf([lexical.get(0, []), vector.get(0, [])], rrf_c)
        return self._hydrate(fused[offset : offset + count], scope)

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
            o = self.t["owners"].lookup(["owner_id"], {"name": owner})
            if not o:
                return None
            c = self.t["categories"].lookup(
                ["category_id"], {"owner_id": o[0][0], "name": category}
            )
            return c[0][0] if c else None

        if self._cache:
            return self._cache.get(("category_id", owner, category), load)
        return load()

    def _category_centroids(
        self, cid: int, fresh: bool = False
    ) -> list[tuple[int, list[float]]]:
        """All (centroid_id, vector) of a category, TTL-cached (unless
        ``fresh``: one read, bypassing the cache) — the
        reference's FetchCentroids (cache/middleware.go:115-163): search
        resolves its probe set WITHOUT touching storage on repeat
        requests. Bounded by design: centroid count ~ rows/10k (the
        reference likewise holds a category's full centroid set in
        process memory, server/search.go:202-227); for beyond-memory
        centroid sets use plans/ivf.nearest_centroids_distributed."""

        def load() -> list[tuple[int, list[float]]]:
            return self.t["centroids"].lookup(
                ["centroid_id", "vector"], {"category_id": cid}
            )

        if self._cache and not fresh:
            return self._cache.get(("centroids", cid), load)
        return load()

    # -- deletes (server/delete.go:214-288, cascades as anti-joins) ----------

    def _cascade_categories(self, cids: list[int]) -> None:
        """Delete the categories ``cids``' documents, embeddings and
        centroids bottom-up: one :meth:`_VersionedTable.replace_rows`
        per table, each rewriting ONLY the partitions that held a victim
        row. The category ids (bounded by categories-per-owner) ride
        every scan as an IN literal. The victim document ids are ALL
        document ids of the deleted categories — unbounded at the design
        point, so they stay a frame with NO broadcast hint: Catalyst
        (with AQE) broadcasts them only when that side is actually
        small, falling back to a shuffle anti-join otherwise."""
        import shutil

        vc = _id_frame(self.spark, cids, "category_id")
        victim_docs = _keyed(
            self.t["documents"].read(), vc, "category_id", "left_semi"
        ).select("document_id")
        self.t["embeddings"].replace_rows("document_id", victim_docs)
        self.t["documents"].replace_rows("category_id", vc)
        self.t["centroids"].replace_rows("category_id", vc)
        # a deleted category's BM25 and band stores would otherwise sit
        # orphaned on disk forever (no search can reach them — the
        # category id is gone)
        for cid in cids:
            for dead in (self._text_index_path(cid), self._neardup_path(cid)):
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)

    def delete_owner(self, owner: str) -> None:
        owners = self.t["owners"].read()
        victim = owners.filter(F.col("name") == owner)
        cats = self.t["categories"].read()
        # bounded by categories-per-owner
        cids = [
            int(r[0])
            for r in cats.join(
                F.broadcast(victim.select("owner_id")), "owner_id", "left_semi"
            )
            .select("category_id")
            .collect()
        ]
        self._cascade_categories(cids)
        self.t["categories"].write(cats.filter(~F.col("category_id").isin(cids)))
        self.t["owners"].write(owners.filter(F.col("name") != owner))
        self._invalidate_cache()

    def delete_category(self, owner: str, category: str) -> None:
        cid = self._category_id(owner, category)
        if cid is None:
            return
        self._cascade_categories([cid])
        self.t["categories"].write(
            self.t["categories"].read().filter(F.col("category_id") != cid)
        )
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
        text_indexed = versioned.exists(tpath)
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
        keys = _id_frame(self.spark, verified)
        # embeddings carry no category_id — the cascade follows the
        # VERIFIED victim documents (FK ON DELETE CASCADE semantics),
        # so a bare document_id match can't cross tenants here either.
        # Each table rewrites only the partitions that held a victim:
        # the centroid lists found by one scan, the ids' hash buckets
        self.t["embeddings"].replace_rows("document_id", keys)
        self.t["documents"].replace_rows(
            "document_id",
            keys,
            parts=sorted({i % N_DOC_BUCKETS for i in verified}),
        )
        # the text index must not keep ranking dead documents: their
        # postings would occupy lexical top-n slots that hydration then
        # drops, silently underfilling hybrid pages. One tombstone
        # commit for the whole batch, with the exact dls recovered
        # above — O(manifest), no bucket rewrite. An index built since
        # the check above has no dls from the victim read: the tombstone
        # recovers them from the postings instead
        if versioned.exists(tpath):
            from go_vectorsearch_spark.operators.fulltext import (
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
            _v, m = versioned.snapshot(tpath)
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
                "text_index": versioned.exists(
                    self._text_index_path(r["category_id"])
                ),
                "neardup_index": versioned.exists(
                    self._neardup_path(r["category_id"])
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

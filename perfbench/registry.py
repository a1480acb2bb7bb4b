"""The batch_registry workload: a fixed set of ``queries`` registry
entries from all four families, materialized through Arrow
(``toPandas``) the way ``bench.py`` does, after the one-time builds
those entries use.

The set is the one-time builds plus 12-20 seconds of entries on a
4-core box, so a run fits the benchmark's time budget; it keeps the
curation entries with the most eager jobs. A run makes one pass over
the set per ``PASS_S`` of ``--seconds`` (at least one), a count rather
than a timer, so a fast and a slow host time the same entries.

The tables are generated once per checkout from ``gen.TABLE_SEED``, so
the committed digests (``digests.json``) hold for every run. The entry
order is fixed too, so one-time costs (Python workers, code generation,
shared caches) land on the same entries in every run; the run seed
changes nothing here.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import gen
from common import digest, p50
from layers import family, persisted_rdds

# the one-time builds ENTRIES use, in bench.py's order
BUILDS = [
    "_toks_cached", "_shingled_cached", "_lsh_bucketed_cached",
    "_substr_windows_cached", "_substr_flags_cached",
]
ENTRIES = [
    # curate: the largest eager-job entries (ROADMAP item 5) and cheap ones
    "pipeline_curate_docs", "dedup_jaccard_pairs", "dedup_simhash_pairs",
    "substr_cut_docs", "decontaminate_cut_docs", "dedup_exact_stats",
    "line_dedup_docs",
    # ann
    "ann_lsh_search", "cosine_topk", "quantize_roundtrip",
    # text
    "text_quality", "validate_documents", "quality_model_features",
    # relational
    "scan_projection", "groupby_count", "join_fk_filter", "events_asof_join",
]
PASS_S = 16  # nominal seconds of one pass over ENTRIES, loaded 4-core box
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def tables_dir(work_dir: str) -> str:
    """The generated tables, written on first use (atomically, so an
    interrupted run leaves no half-written set behind)."""
    out = os.path.join(work_dir, "data", f"tables-{gen.TABLE_SEED}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp)
        os.replace(tmp, out)
    return out


def _plan_ms(df) -> float:
    """Sum of the Catalyst phase times (parsing, analysis, optimization,
    planning) the query execution's tracker recorded."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def batch_registry(ctx) -> None:
    from go_vectorsearch_spark import queries as registry

    sf_dir = tables_dir(ctx.work_dir)
    builds = []
    for b in BUILDS:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"queries.build{b}", rid="setup"):
            getattr(registry, b)(ctx.spark, sf_dir)
        builds.append((time.perf_counter() - t0) * 1000.0)
    ctx.setup_done()

    with open(DIGESTS) as f:
        expected = json.load(f)
    ctx.check(sorted(expected) == sorted(registry.REGISTRY),
              f"digest file covers {len(expected)} entries, "
              f"registry has {len(registry.REGISTRY)}")
    names = list(ENTRIES)

    walls: dict[str, float] = {}  # op id -> wall seconds
    for _ in range(max(1, round(ctx.seconds / PASS_S))):
        ctx.passes += 1
        for name in names:
            rid = name if ctx.passes == 1 else f"{name}#{ctx.passes}"
            spec = registry.REGISTRY[name]
            fam = family(name)
            t0 = time.perf_counter()
            with ctx.tracer.span(f"queries.{fam}.fn", rid=rid):
                df = spec.fn(ctx.spark, sf_dir)
            with ctx.tracer.span(f"queries.{fam}.exec", rid=rid) as sp:
                pdf = df.toPandas()
            walls[rid] = time.perf_counter() - t0
            ctx.op(rid, walls[rid] * 1000.0)
            if ctx.trace:
                sp["plan_ms"] = _plan_ms(df)
                sp["persisted"] = persisted_rdds(ctx.spark.sparkContext)
            rows, h = digest(pdf)
            want = expected.get(name, {})
            ctx.check(rows == want.get("rows") and h == want.get("hash"),
                      f"{rid}: {rows} rows hash {h}, expected {want}")

    oracle = [n for n in names if registry.REGISTRY[n].oracle is not None]
    ms = [w * 1000.0 for w in walls.values()]
    # the geometric mean weighs every entry (and build) alike, so the
    # timing noise of different operations averages out; a median is one
    # operation's time, and it moved twice as much between runs
    ctx.headline(read_ms=statistics.geometric_mean(ms),
                 write_ms=statistics.geometric_mean(builds))
    ctx.line("entry_p50_ms", p50(ms), "ms", len(ms))
    ctx.line("entry_geomean_ms", statistics.geometric_mean(ms), "ms", len(ms))
    ctx.line("entries_per_s", len(ms) / sum(walls.values()), "1/s", len(ms))
    ctx.tail_line("entry_tail_ms", ms)
    # every entry of the set is an oracle entry; the first pass's sum
    ctx.line("registry_oracle_s", sum(walls[n] for n in oracle), "s", len(oracle))
    ctx.line("build_p50_ms", p50(builds), "ms", len(builds))
    ctx.line("build_geomean_ms", statistics.geometric_mean(builds), "ms", len(builds))
    ctx.line("index_build_s", sum(builds) / 1000.0, "s", len(builds))

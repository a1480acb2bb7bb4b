"""Regenerate ``digests.json``: the expected (row count, value hash) of
every registry entry on the generated tables.

    python3 perfbench/make_digests.py

Each of the oracle entries is also run on DuckDB over the same tables
once, here, and its digest compared; the result is recorded per entry
("duckdb": "match" / "mismatch", absent for entries without an oracle).
DuckDB is never run by the benchmark itself. Run this only when a change
is meant to alter registry results.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from common import digest  # noqa: E402
from registry import BUILDS, DIGESTS, tables_dir  # noqa: E402


def main() -> int:
    import duckdb

    from go_vectorsearch_spark import get_spark
    from go_vectorsearch_spark import queries as registry
    from go_vectorsearch_spark.sources.tables import TABLE_NAMES, ensure_package_on_workers

    sf_dir = tables_dir(WORK)
    spark = get_spark("perfbench-digests")
    ensure_package_on_workers(spark)
    for b in BUILDS:
        getattr(registry, b)(spark, sf_dir)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out, mismatches = {}, []
    for name, spec in sorted(registry.REGISTRY.items()):
        rows, h = digest(spec.fn(spark, sf_dir).toPandas())
        out[name] = {"rows": rows, "hash": h}
        if spec.oracle is not None:
            same = digest(con.execute(spec.oracle).df()) == (rows, h)
            out[name]["duckdb"] = "match" if same else "mismatch"
            if not same:
                mismatches.append(name)
        print(name, out[name], flush=True)
    spark.stop()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} digests written; DuckDB mismatches: {mismatches or 'none'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

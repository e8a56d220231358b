"""Driver-gate rehearsal: run queries() entries against their DuckDB
oracles through a plain session, with per-query wall time.

Usage: python tools_rehearsal.py [sf_dir] [query ...]

With no query names every registry entry runs; names restrict the run
(the quick re-grade after touching one operator). sf_dir is recognised
by containing a path separator; it defaults to the sf0.01 fixtures, the
sibling of the driver contract's ``SMOKE_SF_DIR``.

Exit code: 0 when every entry run MATCHes, 1 on any MISMATCH or ERR,
2 on an unknown query name (checked before any Spark session starts).

The package and ``__spark_entry__`` import from this script's own
checkout (Python puts the script's directory first on sys.path), so a
run from a pinned worktree grades that worktree's code.
"""

from __future__ import annotations

import os
import sys
import time


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[16]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main(argv: list[str]) -> int:
    import __spark_entry__ as e

    args = list(argv)
    if args and os.sep in args[0]:
        sf = args.pop(0)
    else:
        sf = os.path.join(os.path.dirname(e.SMOKE_SF_DIR), "sf0.01")
    q, o = e.queries(), e.oracle_sql()
    unknown = [n for n in args if n not in q]
    if unknown:
        print("UNKNOWN:", unknown, flush=True)
        return 2
    names = args or sorted(q)

    # Sync QUERIES.md / COVERAGE.md / README.md count headers to the
    # live registry before every rehearsal: the rehearsal is the step
    # that always runs after adding queries, so the docs cannot drift.
    import tools_gen_queries_md

    tools_gen_queries_md.main()

    from bo_sql_spark.testing import compare_results, duckdb_connect

    spark = _session()
    con = duckdb_connect(sf)
    fails = []
    for name in names:
        t0 = time.time()
        try:
            s = q[name](spark, sf).toPandas()
            if name in o:
                ok, msg = compare_results(s, con.execute(o[name]).df())
            else:
                ok, msg = True, "rows-only"
            status = "MATCH" if ok else "MISMATCH"
            print(
                f"{time.time() - t0:6.1f}s {name}: {status} rows={len(s)}"
                + ("" if ok else " :: " + msg[:200]),
                flush=True,
            )
            if not ok:
                fails.append(name)
        except Exception as ex:
            print(f"  ERR  {name}: {str(ex)[:200]}", flush=True)
            fails.append(name)
    print("FAILS:", fails or "none", flush=True)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

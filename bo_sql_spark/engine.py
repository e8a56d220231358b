"""The user-facing engine: SQL + metadata commands + REPL.

Reference surface parity (reference src/cli/main.cpp):
  SELECT ...                 -> spark.sql, formatted result
  LOAD TABLE name FROM 'f'   -> CSV/parquet load + view registration
                                (main.cpp:152-172)
  SHOW TABLES                -> catalog listing        (main.cpp:173-187)
  DESCRIBE t                 -> schema + rows + per-column min/max/NDV
                                (main.cpp:188-208)
  EXPLAIN [MODE] <sql>       -> the optimized/physical plan
                                (main.cpp:209-228 — reference prints its
                                logical tree; we print Catalyst's plan,
                                which is the honest equivalent). MODE is
                                COST (statistics-annotated) | EXTENDED |
                                CODEGEN | SIMPLE | FORMATTED (default) |
                                ANALYZE (execute; show the FINAL AQE
                                plan + rows + wall time)
  SET FORMAT markdown|csv    -> output format          (main.cpp:245-264)
  EXIT / QUIT                -> leave REPL

One-shot mode: ``python -m bo_sql_spark --sql '<query>'
[--output-format markdown|csv] [--load name=path ...]``
(reference main.cpp:59-128).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from pyspark.sql import DataFrame, SparkSession

from bo_sql_spark.catalog import describe_table, load_tables, show_tables
from bo_sql_spark.formatters import FORMATTERS
from bo_sql_spark.sources import load_csv, load_parquet

_LOAD_RE = re.compile(
    r"^\s*LOAD\s+TABLE\s+(\w+)\s+FROM\s+'([^']+)'\s*;?\s*$", re.IGNORECASE
)
_DESCRIBE_RE = re.compile(r"^\s*DESCRIBE\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_SET_FORMAT_RE = re.compile(
    r"^\s*SET\s+FORMAT\s+(markdown|csv)\s*;?\s*$", re.IGNORECASE
)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN(?:\s+(COST|EXTENDED|CODEGEN|FORMATTED|SIMPLE|ANALYZE))?\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)


class Engine:
    """Thin session wrapper: command dispatch + formatting."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.output_format = "markdown"

    # ---- core query path -------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def load_table(self, name: str, path: str) -> DataFrame:
        if path.endswith((".parquet", ".pq")) or path.rstrip("/").endswith(".parquet"):
            return load_parquet(self.spark, path, name=name)
        return load_csv(self.spark, path, name=name)

    def load_dir(self, sf_dir: str) -> None:
        load_tables(self.spark, sf_dir)

    # ---- metadata surface --------------------------------------------------
    def describe(self, name: str) -> str:
        n_rows, stats = describe_table(self.spark, name)
        lines = [f"table: {name}", f"rows: {n_rows}"]
        for s in stats:
            lines.append(
                f"  {s.name}: {s.dtype}  ndv={s.ndv}  min={s.min}  max={s.max}"
            )
        return "\n".join(lines)

    def explain(self, query: str, mode: str = "formatted") -> str:
        """Catalyst plan text. ``mode`` maps to Spark's ExplainMode:
        ``formatted`` (default), ``simple``, ``extended``, ``codegen``,
        and ``cost`` — the cost mode annotates every optimized-plan node
        with Catalyst's statistics (sizeInBytes, rowCount when ANALYZE
        or AQE has them), so plan-size regressions are visible from the
        same REPL verb reference users know (main.cpp:209-228)."""
        if mode == "analyze":
            return self.explain_analyze(query)
        return self.sql(query)._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def explain_analyze(self, query: str) -> str:
        """EXPLAIN ANALYZE: EXECUTE the query, then print the plan that
        actually ran — with AQE this is the FINAL plan
        (isFinalPlan=true: runtime-chosen join strategies, coalesced
        partitions, skew splits), which the un-executed EXPLAIN can
        only guess at — plus the row count and wall time. The
        DuckDB/Postgres REPL verb, absent in the reference (its
        EXPLAIN prints the pre-execution logical tree only)."""
        import time

        df = self.sql(query)
        t0 = time.perf_counter()
        n = len(df.collect())
        wall_ms = (time.perf_counter() - t0) * 1000
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        return f"{plan}\nrows: {n}\nwall: {wall_ms:.1f} ms"

    def format_result(self, df: DataFrame) -> str:
        return FORMATTERS[self.output_format](df)

    # ---- command dispatch ----------------------------------------------
    def execute(self, text: str) -> str:
        """One REPL command/statement -> printable output."""
        stripped = text.strip().rstrip(";").strip()
        if not stripped:
            return ""
        upper = stripped.upper()
        if upper in ("EXIT", "QUIT"):
            raise EOFError
        if upper == "SHOW TABLES":
            names = show_tables(self.spark)
            return "\n".join(names) if names else "(no tables)"
        if m := _SET_FORMAT_RE.match(text):
            self.output_format = m.group(1).lower()
            return f"format: {self.output_format}"
        if m := _LOAD_RE.match(text):
            df = self.load_table(m.group(1), m.group(2))
            return f"loaded {m.group(1)} ({len(df.columns)} columns)"
        if m := _DESCRIBE_RE.match(text):
            return self.describe(m.group(1))
        if m := _EXPLAIN_RE.match(text):
            return self.explain(m.group(2), (m.group(1) or "formatted").lower())
        return self.format_result(self.sql(text))


def repl(engine: Engine) -> None:
    print("bo-sql-spark — SQL over Spark. EXIT to quit.")
    while True:
        try:
            line = input("bosql> ")
        except EOFError:
            break
        try:
            out = engine.execute(line)
        except EOFError:
            break
        except Exception as exc:  # surface, keep REPL alive (main.cpp does same)
            out = f"error: {exc}"
        if out:
            print(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bo_sql_spark")
    ap.add_argument("--sql", help="one-shot query (otherwise REPL)")
    ap.add_argument(
        "--output-format", choices=["markdown", "csv"], default="markdown"
    )
    ap.add_argument(
        "--load",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="register a table before running (csv or parquet)",
    )
    ap.add_argument(
        "--data-dir",
        help="register every parquet table in a directory (TESTDATA layout)",
    )
    ap.add_argument(
        "csv",
        nargs="?",
        help="CSV file registered under the implicit name 'table' "
        "(reference main.cpp:104-127)",
    )
    args = ap.parse_args(argv)

    from bo_sql_spark.session import get_session

    engine = Engine(get_session(app_name="bo-sql-spark-cli"))
    engine.spark.sparkContext.setLogLevel("ERROR")
    engine.output_format = args.output_format
    if args.data_dir:
        engine.load_dir(args.data_dir)
    for spec in args.load:
        name, _, path = spec.partition("=")
        if not path:
            ap.error(f"--load expects NAME=PATH, got {spec!r}")
        engine.load_table(name, path)
    if args.csv:
        engine.load_table("table", args.csv)
    elif (
        args.sql is not None
        and not args.load
        and not args.data_dir
        and not sys.stdin.isatty()
    ):
        # Reference one-shot behavior (main.cpp:115-127): with --sql and
        # no CSV argument, stdin IS the CSV, registered as 'table'
        # (`cat f.csv | bo-sql --sql ...`). Spark reads files, not
        # pipes, so spool stdin to a file in the scratch root first.
        from bo_sql_spark.scratch import scratch_dir

        text = sys.stdin.read()
        if text.strip():
            spool = os.path.join(scratch_dir("stdin"), "table.csv")
            with open(spool, "w") as fh:
                fh.write(text)
            try:
                engine.load_table("table", spool)
            except Exception as exc:
                print(f"error loading CSV from stdin: {exc}", file=sys.stderr)
                return 1

    if args.sql is not None:
        try:
            print(engine.execute(args.sql))
        except Exception as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
        return 0
    repl(engine)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

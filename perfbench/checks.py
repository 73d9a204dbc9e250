"""Correctness checks, run untimed after each timed unit.

The timed pass sinks its outputs the way bench.py's pipeline leg does (a
noop write per row sink and the summary, a collect of grouped_issues), so it
does exactly the program's sink work. Afterwards `pipeline_mismatches`
re-reads the pass's sink frames (bench mode: the parsed blocks are still
cached; checkpoint mode: the parquet stages) and reduces each row sink to
the order-independent digest `inputs.expected_outputs` computed from the
oracle: (row count, sum of a 40-bit md5 of all the sink's columns). The
summary (field contents md5'd) and grouped_issues tables are compared whole.

The operator leaves are compared with their DuckDB `oracle_sql()` with
`tools/check_entry.py`'s normalisation.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputs import DETAILS_SEP, NULL, sink_columns


def sink_jobs(out: dict):
    """`job_factory` for `Pipeline.run`: bench.py's sink jobs. The collected
    grouped_issues rows go into `out` for the check."""

    def collect_grouped(df: DataFrame):
        def job():
            out["grouped_issues"] = df.collect()
        return job

    def factory(name: str, df: DataFrame):
        if name in ("specific_issues", "other_routed", "grouped_routed",
                    "events", "severity", "summary"):
            return df.write.format("noop").mode("overwrite").save
        if name == "grouped_issues":
            return collect_grouped(df)
        return None

    return factory


def _as_text(col: str):
    if col == "tokens":
        c = F.array_join(F.col("tokens").cast("array<string>"), ",")
    elif col == "details":
        c = F.array_join(F.col("details"), DETAILS_SEP)
    else:
        c = F.col(col).cast("string")
    return F.coalesce(c, F.lit(NULL))


def _row_digests(sinks: dict[str, DataFrame], cols: dict) -> tuple[dict, list[str]]:
    """{sink: [row count, hash sum]} over every column of each row sink, in
    one Spark job; a sink without one of its columns is reported as bad."""
    parts, bad = [], []
    for name, cs in cols.items():
        try:
            h = F.conv(F.substring(F.md5(F.concat_ws("|", *map(_as_text, cs))), 1, 10),
                       16, 10).cast("long")
            parts.append(sinks[name].select(F.lit(name).alias("sink"), h.alias("h")))
        except (KeyError, AnalysisException):  # the sink or one of its columns is missing
            bad.append(name)
    got = {}
    if parts:
        rows = (reduce(DataFrame.unionAll, parts).groupBy("sink")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect())
        got = {r["sink"]: [int(r["n"]), int(r["s"] or 0)] for r in rows}
    return got, bad


def _summary_rows(df: DataFrame) -> list[list]:
    rows = df.select(
        "source", "issue", "priority", "number", "timestamp", "log_level",
        F.transform_values("fields", lambda _k, v: F.md5(v)).alias("fields"),
    ).collect()
    return [
        [r["source"], r["issue"], r["priority"], r["number"], r["timestamp"],
         r["log_level"], dict(r["fields"] or {})]
        for r in rows
    ]


def _grouped_rows(rows) -> list[list]:
    return sorted(
        [r["source"], r["issue"], r["group_key"], list(r["details"]), r["count"]]
        for r in rows
    )


def pipeline_mismatches(sinks: dict[str, DataFrame], grouped_rows, cfg, expected: dict,
                        corrupt_doc: str | None = None) -> tuple[list[str], dict]:
    """(names of the sinks whose output differs from the oracle's, row count
    per row sink). `grouped_rows` are grouped_issues rows the timed pass
    collected (None: collect them here). `corrupt_doc` appends a token to
    that doc's specific_issues row first (the benchmark's self-test)."""
    if corrupt_doc is not None:
        sinks = dict(sinks)
        sinks["specific_issues"] = sinks["specific_issues"].withColumn(
            "tokens",
            F.when(F.col("doc_id") == corrupt_doc, F.array_append("tokens", F.lit(0)))
            .otherwise(F.col("tokens")),
        )
    # the summary job runs beside the digest job, on the cores it leaves idle
    with ThreadPoolExecutor(max_workers=1) as pool:
        summary = pool.submit(_summary_rows, sinks["summary"])
        got, bad = _row_digests(sinks, sink_columns(cfg))
        summary_rows = summary.result()
    bad += [n for n, d in expected["digests"].items() if n not in bad and got.get(n) != d]
    if summary_rows != expected["summary"]:
        bad.append("summary")
    if grouped_rows is None:
        grouped_rows = sinks["grouped_issues"].collect()
    if _grouped_rows(grouped_rows) != expected["grouped_issues"]:
        bad.append("grouped_issues")
    return sorted(bad), {n: d[0] for n, d in got.items()}


# --- operator leaves vs DuckDB ------------------------------------------------

def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def operator_matches(con, sql: str | None, cols: list[str], rows: list) -> bool:
    """True when the leaf's rows equal its DuckDB oracle (no oracle: True)."""
    from tools.check_entry import norm_rows

    if sql is None:
        return True
    rel = con.sql(sql)
    want_cols, want = rel.columns, rel.fetchall()
    if sorted(cols) != sorted(want_cols):
        return False
    return norm_rows(cols, [tuple(r) for r in rows]) == norm_rows(want_cols, want)

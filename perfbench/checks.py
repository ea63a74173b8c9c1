"""Output checks for the pipeline workloads, made in DuckDB from the files the
program wrote, so they share no code with the program they check."""

from __future__ import annotations

import os

import duckdb

ROUTED = "routed"
AGGREGATES = "sink_aggregates"
MARSHALED_PREFIX = "marshaled_"


class CheckFailed(Exception):
    """An output of the program is wrong."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def input_counts(src: str) -> dict:
    """Turns in the input table, and turns with a non-NULL ts."""
    with _connect() as con:
        turns, with_ts = con.execute(
            f"SELECT count(*), count(ts) FROM read_parquet('{src}/*.parquet')"
        ).fetchone()
    return {"turns": turns, "turns_with_ts": with_ts}


def data_files(path: str) -> list[str]:
    """Data files under ``path``: no hidden files (checksums, temp files)
    and no ``_SUCCESS`` markers."""
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files
                   if not f.startswith((".", "_")))
    return out


def _count_lines(path: str) -> int:
    n = 0
    for f in data_files(path):
        with open(f, "rb") as fh:
            n += fh.read().count(b"\n")
    return n


def pipeline_outputs(wh: str, expected: dict, marshal_sinks: dict[str, str]) -> dict:
    """Check one run_pipeline warehouse; return its lineage rows, its bytes
    and its file count.

    * the routed_write per-sink counts sum to the input turns;
    * DuckDB recounts the written routed parquet to the same per-sink counts;
    * ``sum(n)`` in sink_aggregates equals the non-NULL-ts turns;
    * each marshaled table's rows equal its sink's routed rows.
    """
    files = data_files(wh)
    with _connect() as con:
        lineage = con.execute(
            f"SELECT stage, sink, rows_out FROM read_parquet('{wh}/_lineage/*.parquet') "
            "ORDER BY stage, sink"
        ).fetchall()
        routed = {sink: n for stage, sink, n in lineage if stage == "routed_write"}
        _require(sum(routed.values()) == expected["turns"],
                 f"routed sinks sum to {sum(routed.values())}, input has {expected['turns']}")
        recount = dict(con.execute(
            f"SELECT sink, count(*) FROM read_parquet('{wh}/{ROUTED}/**/*.parquet', "
            "hive_partitioning = true) GROUP BY sink"
        ).fetchall())
        _require(recount == routed, f"routed parquet holds {recount}, lineage says {routed}")
        agg_n = con.execute(
            f"SELECT sum(n) FROM read_parquet('{wh}/{AGGREGATES}/**/*.parquet', "
            "hive_partitioning = true)"
        ).fetchone()[0]
        _require(agg_n == expected["turns_with_ts"],
                 f"sink_aggregates sum(n) = {agg_n}, non-NULL-ts turns = "
                 f"{expected['turns_with_ts']}")
        marshaled = {sink: n for stage, sink, n in lineage if stage == "marshal_write"}
        for sink, fmt in marshal_sinks.items():
            table = os.path.join(wh, MARSHALED_PREFIX + sink)
            if fmt == "otlp_proto":
                rows = con.execute(
                    f"SELECT count(*) FROM read_parquet('{table}/**/*.parquet')"
                ).fetchone()[0]
            else:
                rows = _count_lines(table)
            want = routed.get(sink, 0)
            _require(rows == want and marshaled.get(sink, 0) == want,
                     f"marshaled_{sink} holds {rows} rows (lineage {marshaled.get(sink)}), "
                     f"routed {sink} has {want}")
    return {
        "lineage": lineage,
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
    }

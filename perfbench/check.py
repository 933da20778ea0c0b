"""Expected outputs and output checks, all computed outside the timed region.

Summaries are checked against the package's replay fold
(``functions/replay.py``) run over the generator's ground-truth events, so
the parse, window and aggregate under test are not used to make the
expectation.  Sinks and written summaries are read back with DuckDB and
pyarrow, never with Spark.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


def _canon(v):
    """Order-preserving plain-data form of a summary cell (Spark Row,
    pyarrow dict or replay dict alike)."""
    if isinstance(v, dict):
        return [_canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def digest(rows) -> tuple[int, str]:
    """(row count, sha256) of summary rows in MATCH_SUMMARY_SCHEMA column
    order, independent of row order."""
    keys = sorted(json.dumps(_canon(r), separators=(",", ":")) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return len(keys), h


def expected_summaries(events_by_conv, ops: frozenset[str]) -> list[dict]:
    from quake3_log_analyser_spark.functions.replay import new_state, replay_events

    out: list[dict] = []
    for conv_id, events in events_by_conv:
        out += replay_events(new_state(), conv_id, events, ops, False)
    return out


def row_dicts(rows) -> list[dict]:
    return [r.asDict(recursive=True) for r in rows]


def parquet_rows(path: Path, drop: tuple[str, ...] = ()) -> list[dict]:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    table = table.drop_columns([c for c in drop if c in table.column_names])
    return table.to_pylist()


# sink -> ground-truth event types routed there (operators/route.py)
SINK_TYPES = {
    "kills": {"Kill"},
    "client_events": {"ClientConnect", "ClientUserinfoChanged", "ClientDisconnect"},
    "scores": {"Score"},
    "match_control": {"InitGame", "Exit", "ShutdownGame"},
    "errors": {None},
}


def expected_sink_counts(type_counts: dict) -> dict[str, int]:
    return {
        sink: sum(type_counts.get(t, 0) for t in types)
        for sink, types in SINK_TYPES.items()
    }


def check_sinks(sink_dir: Path, input_dir: Path, expected: dict[str, int]) -> list[str]:
    """Per-sink row counts and routed-row ``text`` equality with the input
    under (conv_id, turn_idx).  Returns the mismatches found."""
    import duckdb

    con = duckdb.connect()
    try:
        got = dict(
            con.execute(
                "SELECT sink, count(*) FROM read_parquet(?, hive_partitioning=true) "
                "GROUP BY sink",
                [str(sink_dir / "*" / "*.parquet")],
            ).fetchall()
        )
        bad_text = con.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning=true) s "
            "LEFT JOIN read_parquet(?) t USING (conv_id, turn_idx) "
            "WHERE t.text IS NULL OR s.text IS DISTINCT FROM t.text",
            [str(sink_dir / "*" / "*.parquet"), str(input_dir / "*.parquet")],
        ).fetchone()[0]
    finally:
        con.close()
    errors = []
    for sink, n in expected.items():
        if got.get(sink, 0) != n:
            errors.append(f"sink {sink}: {got.get(sink, 0)} rows, want {n}")
    if bad_text:
        errors.append(f"{bad_text} routed rows differ from input text")
    return errors

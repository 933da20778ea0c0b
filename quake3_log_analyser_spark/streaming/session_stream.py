"""Structured Streaming variant of the match-assembly pipeline.

The reference streams synchronously in-order from one source
(dal/src/sync_reader.rs); the Spark generalization is a keyed-state
streaming job: transcripts arrive as a stream, are parsed by the same
Arrow UDF, and per-``conv_id`` state carries the exact replay fold
(functions/replay.py) across micro-batches via ``applyInPandasWithState``.

Design notes (SURVEY.md §2.6):
* matches are delimited by explicit InitGame/ShutdownGame events — a true
  session window, NOT a gap window, so no event-time windowing is needed;
* the reference has no late/out-of-order data; we assume per-conv
  in-order delivery within and across micro-batches (each batch is sorted
  by ``turn_idx``; a monotone high-water mark drops late duplicates —
  at-least-once sources replaying a turn cannot double-count);
* state timeout expires abandoned conversations, mirroring the
  reference's unterminated-match-emits-nothing behavior
  (bll/src/summary_logic.rs:397-403): expiry emits nothing and frees the
  state.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.replay import DEFAULT_OPS, new_state, replay_events
from ..operators.parse import parse_transcripts
from ..schemas import MATCH_SUMMARY_SCHEMA

STATE_SCHEMA = T.StructType(
    [
        T.StructField("state_json", T.StringType(), True),
        T.StructField("max_turn", T.LongType(), True),
    ]
)

FOLD_COLS = [
    "turn_idx", "event_type", "client_id", "name", "killer_id",
    "victim_id", "killer_name", "victim_name", "reason_name", "frags",
]


def _serialize(state: dict, max_turn: int) -> tuple[str, int]:
    cur = state["cur"]
    ser = {
        "in_game": state["in_game"],
        "graceful": state["graceful"],
        "match_seq": state["match_seq"],
        "registry": {str(k): v for k, v in state["registry"].items()},
        "cur": None
        if cur is None
        else {**cur, "players": sorted(cur["players"])},
    }
    return json.dumps(ser), max_turn


def _deserialize(state_json: str) -> dict:
    if not state_json:
        return new_state()
    raw = json.loads(state_json)
    cur = raw["cur"]
    if cur is not None:
        cur = {**cur, "players": set(cur["players"])}
    return {
        "in_game": raw["in_game"],
        "graceful": raw["graceful"],
        "match_seq": raw["match_seq"],
        "registry": {int(k): v for k, v in raw["registry"].items()},
        "cur": cur,
    }


def make_session_func(
    ops=DEFAULT_OPS,
    stop_on_violations: bool = False,
    idle_timeout_ms: int | None = None,
):
    def assemble(key, pdfs, group_state):
        conv_id = key[0]
        if group_state.hasTimedOut:
            # abandoned conversation: dangling accumulator dropped silently
            group_state.remove()
            return
        if group_state.exists:
            state_json, max_turn = group_state.get
            state = _deserialize(state_json)
            max_turn = max_turn or 0
        else:
            state, max_turn = new_state(), 0

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("turn_idx")
        batch = batch[batch["turn_idx"] > max_turn]  # at-least-once dedup
        if len(batch):
            max_turn = int(batch["turn_idx"].max())
            events = zip(
                batch["turn_idx"].tolist(),
                [None if v is None or (isinstance(v, float) and pd.isna(v)) else v
                 for v in batch["event_type"].tolist()],
                batch["client_id"].tolist(),
                batch["name"].tolist(),
                batch["killer_id"].tolist(),
                batch["victim_id"].tolist(),
                batch["killer_name"].tolist(),
                batch["victim_name"].tolist(),
                batch["reason_name"].tolist(),
                batch["frags"].tolist(),
            )
            out = replay_events(state, conv_id, events, ops, stop_on_violations)
        else:
            out = []

        group_state.update(_serialize(state, max_turn))
        if idle_timeout_ms is not None:
            group_state.setTimeoutDuration(idle_timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in MATCH_SUMMARY_SCHEMA])

    return assemble


def summarize_matches_stream(
    transcripts_stream: DataFrame,
    ops=DEFAULT_OPS,
    stop_on_violations: bool = False,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming transcripts -> streaming per-match summaries (append).

    ``idle_timeout_ms`` bounds state for abandoned conversations in
    production (ProcessingTimeTimeout).  Default None = NoTimeout: with a
    timeout configured, Spark schedules timeout-evaluation micro-batches
    indefinitely, so ``processAllAvailable()``-style draining (tests,
    batch-parity runs) would never return.
    """
    # narrow BEFORE the Python boundary (mapInArrow blocks pruning) and
    # parse only the fold's event fields
    parsed = parse_transcripts(
        transcripts_stream.select("conv_id", "turn_idx", "text"),
        parser="arrow",
        fields=[c for c in FOLD_COLS if c != "turn_idx"],
    )
    narrowed = parsed.select("conv_id", *FOLD_COLS)
    return narrowed.groupBy("conv_id").applyInPandasWithState(
        make_session_func(ops, stop_on_violations, idle_timeout_ms),
        outputStructType=MATCH_SUMMARY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout" if idle_timeout_ms is None else "ProcessingTimeTimeout",
    )

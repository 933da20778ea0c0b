"""End-to-end pipeline composition — the ``summarize_games`` analogue
(bll-api/src/lib.rs:12-22, bll/src/summary_logic.rs:44-60).

The reference wires a fixed menu of stream-combinator compositions from a
config enum; here the "menu" is just which DataFrame transforms get
composed, and Catalyst prunes everything an omitted op would have computed
(the reference's "only pay for what you use" claim, summary_logic.rs:30,
is column pruning for us).

One plan per op menu:
* ops without ``player_resolutions``  -> fully vectorized DataFrame path
  (kills / means / scores are order-insensitive aggregates): expr parse
  -> sessionize window -> one two-level aggregation, no Python
* ops with ``player_resolutions``     -> exact grouped-map replay fold
  (rename/disconnect/reconnect are order-dependent, summary_logic.rs:210-287)
  over the arrow parse
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.parse import choose_parser, parse_transcripts
from ..operators.sessionize import sessionize
from ..operators.summarize import (
    DEFAULT_EXTENDED_OPS,
    summarize_extended,
    summarize_multi,
)
from ..operators.translate import translate

VALID_OPS = {"kills", "means_of_death", "player_resolutions", "reported_scores"}

# the reference's accepted combinations (summary_logic.rs:47-58)
KILLS_ONLY = frozenset({"kills"})


def summarize_matches(
    transcripts: DataFrame,
    ops: frozenset[str] | set[str] = KILLS_ONLY,
    stop_on_violations: bool = False,
    stop_on_feed_errors: bool = False,
    early_discard: bool = True,
) -> DataFrame:
    """transcripts -> per-match summary DataFrame (MATCH_SUMMARY_SCHEMA).

    The parser comes from ``choose_parser`` on the consumed fields.  On a
    conv_id-bucketed, (conv_id, turn_idx)-sorted source table the
    vectorized plan needs NO exchange and NO sort: the bucket layout
    satisfies the window and both aggregation levels (plan-pinned in
    tests/test_plans.py).

    ``stop_on_feed_errors=True`` is the reference's ``--pedantic`` feed
    gate (app/src/main.rs:84-85): it passes ``pedantic=True`` to
    ``parse_transcripts``, whose ``fail_on_feed_errors`` gate FAILS the
    job on the first malformed line instead of keeping it in-band.
    """
    ops = frozenset(ops)
    unknown = ops - VALID_OPS
    if unknown:
        raise ValueError(f"unknown logic ops: {sorted(unknown)}")
    if "kills" not in ops:
        raise ValueError("the 'kills' op is mandatory (as in the reference menu)")

    FOLD_FIELDS = [
        "event_type", "client_id", "name", "killer_id", "victim_id",
        "killer_name", "victim_name", "reason_name", "frags",
    ]
    # vectorized-path field set (narrow: 2-5 event columns)
    agg_base = ["killer_name", "victim_name"]
    if "means_of_death" in ops:
        agg_base.append("reason_name")
    if "reported_scores" in ops:
        agg_base += ["name", "frags"]

    # per-query-shape selection (operators.parse.choose_parser): the fold
    # path keeps 9 event fields -> arrow barrier; the vectorized
    # kills-family paths keep 2-5 -> the faster, better-scaling expr
    # parser (janino-safe at that width)
    fold = "player_resolutions" in ops
    parser = choose_parser(FOLD_FIELDS if fold else agg_base)

    # summaries never read role/tool/ts — selecting the 3 needed columns
    # BEFORE the parse halves the Arrow IPC payload through the Python
    # boundary (mapInArrow is an optimizer barrier: Catalyst cannot prune
    # through it, so the narrowing must happen on the input side).
    # Measured at 16M turns x 32 cores: 15.1s -> 8.2s for the parse stage.
    narrowed_in = transcripts.select("conv_id", "turn_idx", "text")

    if fold:
        parsed = parse_transcripts(
            narrowed_in,
            parser=parser,
            fields=FOLD_FIELDS,
            pedantic=stop_on_feed_errors,
        )
        # the arrow parser is a pushdown barrier, so the domain filter is
        # safe above it and trims ~40% of the rows the fold would
        # otherwise shuffle (see operators.translate.domain_filter)
        domain = translate(parsed)
        return summarize_extended(domain, ops, stop_on_violations)

    # EARLY DISCARD on RAW text (the reference's events_translation.rs
    # "only pay for what you use", moved BELOW the parse): the vectorized
    # kills-family summaries consume only marker + Kill (+ score) events,
    # so a cheap JVM substring filter drops every other line BEFORE the
    # parse tree runs.  Safe because it is an OVER-approximation (a say
    # line containing " Kill:" passes and the parse still classifies it)
    # that never drops a consumed row: match_id/in_game derive from the
    # retained markers and turn_idx values are preserved.  Referencing only
    # `text`, the predicate pushes to the scan with no re-inlining hazard.
    # Skipped when pedantic: the feed gate must see ALL lines.  Measured
    # at 16M turns x 32 cores: 16.7 s -> 14.2 s e2e on the kill-heavy
    # synthetic mix (larger on chat-heavy real logs).
    if early_discard and not stop_on_feed_errors:
        tokens = ["Kill", "InitGame", "Exit", "ShutdownGame"]
        if "reported_scores" in ops:
            tokens.append("score")
        keep = F.col("text").like(f"% {tokens[0]}:%")
        for tok in tokens[1:]:
            keep = keep | F.col("text").like(f"% {tok}:%")
        narrowed_in = narrowed_in.filter(keep)

    # dropped event types don't affect match state, and summarize filters
    # to Kill/Score rows above the window — no separate translate filter
    sessionized = sessionize(
        parse_transcripts(
            narrowed_in,
            parser=parser,
            fields=agg_base,
            pedantic=stop_on_feed_errors,
        )
    )
    # ONE two-level aggregation for every requested op (kills + means +
    # scores): the old branch-and-join composition re-computed the parse +
    # window DAG once per branch — 3 scans, 0 ReusedExchange, confirmed by
    # the round-3 plan audit.  summarize_multi keeps the single scan and
    # the window's single shuffle (plan-pinned in tests/test_plans.py).
    out = summarize_multi(sessionized, ops)
    cols = [
        "conv_id", "match_id", "total_kills", "players", "kills",
        "kills_by_means", "game_reported_scores", "disconnected_players",
        "graceful", "error",
    ]
    return out.select(*cols)


def full_pipeline_ops() -> frozenset[str]:
    return DEFAULT_EXTENDED_OPS

"""Presentation-layer tests — ports of the reference's JSON serializer
battery (presentation/src/lib.rs:126-233) plus byte-exact fixture goldens
and the pedantic fail-fast modes (stop_on_errors / stop_on_feed_errors)."""

from __future__ import annotations

import json

import pytest

from quake3_log_analyser_spark.presentation import (
    ReportError,
    render_conv_reports,
    to_json,
)
from tests.conftest import FIXTURES_BLL, FIXTURES_DAL


def summary(**overrides):
    base = {
        "total_kills": 45,
        "players": ["Dono da bola", "Isgalamido", "Zeh"],
        "kills": [
            {"player": "Dono da bola", "frags": 5},
            {"player": "Isgalamido", "frags": 18},
            {"player": "Zeh", "frags": 20},
        ],
        "kills_by_means": None,
        "game_reported_scores": None,
        "disconnected_players": None,
        "graceful": True,
        "error": None,
    }
    base.update(overrides)
    return base


STANDARD_GAME = (
    '  "game_{n}": {{\n'
    '    "total_kills": 45,\n'
    '    "players": ["Dono da bola", "Isgalamido", "Zeh"],\n'
    '    "kills": {{\n'
    '      "Dono da bola": 5,\n'
    '      "Isgalamido": 18,\n'
    '      "Zeh": 20\n'
    "    }}\n"
    "  }}"
)


# --- lib.rs:137-156 single_standard_summary ---------------------------------
def test_single_standard_summary():
    out = to_json([summary()])
    assert out == "{\n" + STANDARD_GAME.format(n=1) + "\n}"
    json.loads(out)  # the reference validates via serde_json


# --- lib.rs:158-186 single_complete_summary ----------------------------------
def test_single_complete_summary():
    rows = [
        summary(
            kills_by_means=[
                # name-sorted (BTreeMap render order)
                {"mean": "MOD_BRUTE_FORCE", "count": 3},
                {"mean": "MOD_NAIL_IN_THE_HEAD", "count": 3},
                {"mean": "MOD_PUNCH", "count": 8},
            ],
            game_reported_scores=[
                {"player": "Dono da bola", "frags": 5},
                {"player": "Isgalamido", "frags": 18},
                {"player": "Zeh", "frags": 20},
            ],
            disconnected_players=[
                {"id": 3, "name": "Zeh Maneh", "frags": 2},
                {"id": 7, "name": "Alcantara", "frags": -3},
            ],
        )
    ]
    out = to_json(rows)
    expected = (
        "{\n"
        '  "game_1": {\n'
        '    "total_kills": 45,\n'
        '    "players": ["Dono da bola", "Isgalamido", "Zeh"],\n'
        '    "kills": {\n'
        '      "Dono da bola": 5,\n'
        '      "Isgalamido": 18,\n'
        '      "Zeh": 20\n'
        "    },\n"
        '    "kills_by_means": {\n'
        '      "MOD_BRUTE_FORCE": 3,\n'
        '      "MOD_NAIL_IN_THE_HEAD": 3,\n'
        '      "MOD_PUNCH": 8\n'
        "    },\n"
        '    "game_reported_scores": {\n'
        '      "Dono da bola": 5,\n'
        '      "Isgalamido": 18,\n'
        '      "Zeh": 20\n'
        "    },\n"
        '    "disconnected_players": [\n'
        '      {"id": 3, "name": "Zeh Maneh", "frags": 2},\n'
        '      {"id": 7, "name": "Alcantara", "frags": -3}\n'
        "    ]\n"
        "  }\n"
        "}"
    )
    assert out == expected
    json.loads(out)


# --- lib.rs:188-215 double_standard_summaries --------------------------------
def test_double_standard_summaries():
    out = to_json([summary(), summary()])
    assert out == (
        "{\n" + STANDARD_GAME.format(n=1) + ",\n" + STANDARD_GAME.format(n=2) + "\n}"
    )
    json.loads(out)


def test_error_rows_consume_game_ids():
    """Err stream items advance game_id without emitting (lib.rs:66-71)."""
    rows = [summary(), {"error": "Event #9: violated the event model: DoubleInit"},
            summary()]
    out = to_json(rows)
    # second summary renders as game_3 (the error consumed game_2)
    assert out == (
        "{\n" + STANDARD_GAME.format(n=1) + ",\n" + STANDARD_GAME.format(n=3) + "\n}"
    )


def test_stop_on_errors_raises_with_reference_message():
    rows = [summary(), {"error": "Event #9: violated the event model: DoubleInit"}]
    with pytest.raises(ReportError, match=r"while processing game_id 2: Event #9"):
        to_json(rows, stop_on_errors=True)


def test_empty_stream_renders_empty_object():
    assert to_json([]) == "{\n\n}"


# --- fixture goldens ----------------------------------------------------------
def test_discrepant_report_is_byte_exact(spark):
    """discrepant.log through the full pipeline + renderer must equal the
    reference report byte-for-byte (golden values from
    bll/src/summary_logic.rs:840-873)."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.translate import translate
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file

    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")
    domain = translate(parse_transcripts(t))
    reports = {
        r["conv_id"]: r["report"] for r in render_conv_reports(domain).collect()
    }
    expected = (
        "{\n"
        '  "game_1": {\n'
        '    "total_kills": 105,\n'
        '    "players": ["Assasinu Credi", "Dono da Bola", "Isgalamido", "Zeh"],\n'
        '    "kills": {\n'
        '      "Assasinu Credi": 13,\n'
        '      "Dono da Bola": 13,\n'
        '      "Isgalamido": 19,\n'
        '      "Zeh": 20\n'
        "    },\n"
        '    "kills_by_means": {\n'
        '      "MOD_FALLING": 11,\n'
        '      "MOD_MACHINEGUN": 4,\n'
        '      "MOD_RAILGUN": 8,\n'
        '      "MOD_ROCKET": 20,\n'
        '      "MOD_ROCKET_SPLASH": 51,\n'
        '      "MOD_SHOTGUN": 2,\n'
        '      "MOD_TRIGGER_HURT": 9\n'
        "    },\n"
        '    "game_reported_scores": {\n'
        '      "Assasinu Credi": 11,\n'
        '      "Dono da Bola": 5,\n'
        '      "Isgalamido": 19,\n'
        '      "Zeh": 20\n'
        "    }\n"
        "  }\n"
        "}"
    )
    assert reports["discrepant"] == expected


def test_pedantic_log_report_has_20_games(spark):
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.translate import translate
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file

    path = FIXTURES_BLL / "qgames_pedantic.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "pedantic")
    domain = translate(parse_transcripts(t))
    # stop_on_errors=True proves the clean log raises nothing; the
    # violation gate stays off so kills match the ungated kills-only path
    # (the gate silently drops unregistered-id frags, rs:224-249)
    report = render_conv_reports(domain, stop_on_errors=True).collect()[0]["report"]
    doc = json.loads(report)
    assert list(doc) == [f"game_{i}" for i in range(1, 21)]
    # cross-check one game against the summary DataFrame path
    rows = summarize_matches(t, ops={"kills"}).collect()
    by_match = {r["match_id"]: r for r in rows if r["error"] is None}
    # total_kills is the invariant shared by the fold and the kills-only
    # path; the kills MAP legitimately differs under renames/disconnects
    # (summary_logic.rs:344-360), whose rendering is pinned byte-exactly by
    # the discrepant golden above
    for i in range(1, 21):
        assert doc[f"game_{i}"]["total_kills"] == by_match[i]["total_kills"]


# --- pedantic feed gate (stop_on_feed_errors) ---------------------------------
def test_stop_on_feed_errors_aborts_on_first_malformed_line(spark):
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file

    path = FIXTURES_DAL / "malformed_line.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "malformed")
    # permissive: completes, in-band errors only
    summarize_matches(t, ops={"kills"}).collect()
    # pedantic: the job must FAIL on the first malformed line
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="LogParsingError") as exc:
        summarize_matches(t, ops={"kills"}, stop_on_feed_errors=True).collect()
    assert isinstance(exc.value, Py4JJavaError) or "LogParsingError" in str(exc.value)


def test_stop_on_feed_errors_passes_clean_input(spark):
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file

    path = FIXTURES_BLL / "qgames_pedantic.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "pedantic")
    rows = summarize_matches(t, ops={"kills"}, stop_on_feed_errors=True).collect()
    assert len([r for r in rows if r["error"] is None]) == 20


@pytest.mark.parametrize("ops", ["kills", "fold"])
def test_stop_on_feed_errors_fires_on_both_plans(spark, ops):
    """The pedantic gate must fire on both op-menu plans: the kills-family
    plan gates the expr parse, the fold plan the arrow parse, both through
    parse_transcripts(pedantic=True).  A malformed line between two
    delimiters must fail the job, not ride out as a dead-letter row."""
    from quake3_log_analyser_spark.plans.pipeline import (
        full_pipeline_ops,
        summarize_matches,
    )
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    lines = [
        r" 0:00 InitGame: \fraglimit\20",
        " 0:01 ClientConnect: 2a",
        " 0:02 ShutdownGame:",
    ]
    t = transcripts_from_lines(spark, lines, "c0")
    menu = {"kills"} if ops == "kills" else full_pipeline_ops()
    assert summarize_matches(t, ops=menu).collect()  # permissive: completes
    with pytest.raises(Exception, match="LogParsingError"):
        summarize_matches(t, ops=menu, stop_on_feed_errors=True).collect()


@pytest.mark.parametrize("fields", [None, ["killer_name"]], ids=["full", "narrow"])
@pytest.mark.parametrize("parser", ["arrow", "expr"])
def test_parse_pedantic_fails_on_malformed_line(spark, parser, fields):
    """parse_transcripts(pedantic=True) is one gate for both parsers and
    any field set: one malformed line fails the collect with
    LogParsingError; the same parse without pedantic keeps it in-band."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    lines = [r" 0:00 InitGame: \fraglimit\20", " 0:01 garbage", " 0:02 ShutdownGame:"]
    t = transcripts_from_lines(spark, lines, "c0")
    rows = parse_transcripts(t, parser=parser, fields=fields).collect()
    assert [r["event_type"] for r in rows] == ["InitGame", None, "ShutdownGame"]
    with pytest.raises(Exception, match="LogParsingError"):
        parse_transcripts(t, parser=parser, fields=fields, pedantic=True).collect()


def test_render_conv_reports_validates_fold_columns(spark):
    """A missing fold column must raise a descriptive ValueError at
    analysis time, not a per-task KeyError at execution (round-2 ADVICE)."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.translate import translate
    from quake3_log_analyser_spark.presentation import render_conv_reports
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    t = transcripts_from_lines(spark, [" 0:00 InitGame: \\fraglimit\\20"], "c0")
    narrowed = translate(parse_transcripts(t, fields=["killer_name"]))
    with pytest.raises(ValueError, match="fold columns"):
        render_conv_reports(narrowed)

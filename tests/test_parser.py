"""Parser unit tests — ports of every case in
quake3-server-events/src/deserializer_logs.rs:172-363 (18 tests), run
against the pandas test oracle and the Spark expression parser; both
production parsers (expr / arrow) are then cross-checked against the
oracle run locally on the same lines.
"""

from __future__ import annotations

import pandas as pd
import pytest

from quake3_log_analyser_spark.functions.parse_expr import parse_expr_df
from quake3_log_analyser_spark.schemas import EVENT_COLUMN_NAMES
from tests.parse_pandas import oracle_rows, parse_lines_pd

INIT_DM = r" 1:47 InitGame: \sv_floodProtect\1\sv_maxPing\0\sv_minPing\0\sv_maxRate\10000\sv_minRate\0\sv_hostname\Code Miner Server\g_gametype\0\sv_privateClients\2\sv_maxclients\16\sv_allowDownload\0\bot_minplayers\0\dmflags\0\fraglimit\20\timelimit\15\g_maxGameClients\0\capturelimit\8\version\ioq3 1.36 linux-x86_64 Apr 12 2009\protocol\68\mapname\q3dm17\gamename\baseq3\g_needpass\0"
INIT_CTF = r" 2:33 InitGame: \capturelimit\8\g_maxGameClients\0\timelimit\15\fraglimit\20\dmflags\0\bot_minplayers\0\sv_allowDownload\0\sv_maxclients\16\sv_privateClients\2\g_gametype\4\sv_hostname\Code Miner Server\sv_minRate\0\sv_maxRate\10000\sv_minPing\0\sv_maxPing\0\sv_floodProtect\1\version\ioq3 1.36 linux-x86_64 Apr 12 2009\protocol\68\mapname\Q3TOURNEY6_CTF\gamename\baseq3\g_needpass\0"

# (line, expected partial event dict) — valid cases (rs:183-280)
VALID_CASES = [
    ("  0:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    (" 80:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    ("980:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    ("20:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    (INIT_DM, {"event_type": "InitGame", "frag_limit": 20, "capture_limit": 8, "time_limit_min": 15}),
    (INIT_CTF, {"event_type": "InitGame", "frag_limit": 20, "capture_limit": 8, "time_limit_min": 15}),
    (" 2:33 ClientConnect: 2", {"event_type": "ClientConnect", "client_id": 2}),
    (r"2:33 ClientUserinfoChanged: 2 n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0",
     {"event_type": "ClientUserinfoChanged", "client_id": 2, "name": "Isgalamido"}),
    (" 2:33 ClientBegin: 2", {"event_type": "ClientBegin", "client_id": 2}),
    (" 2:33 ClientDisconnect: 2", {"event_type": "ClientDisconnect", "client_id": 2}),
    (" 2:36 Item: 2 ammo_rockets", {"event_type": "Item"}),
    ("981:26 say: Isgalamido: team blue", {"event_type": "Say"}),
    ("20:54 Kill: 1022 2 22: <world> killed Isgalamido by MOD_TRIGGER_HURT",
     {"event_type": "Kill", "killer_id": 1022, "victim_id": 2, "reason_id": 22,
      "killer_name": "<world>", "victim_name": "Isgalamido", "reason_name": "MOD_TRIGGER_HURT"}),
    ("10:12 Exit: Capturelimit hit.", {"event_type": "Exit"}),
    ("10:12 red:8  blue:6", {"event_type": "CaptureTheFlagResults", "red": 8, "blue": 6}),
    ("10:12 score: 77  ping: 3  client: 2 Isgalamido",
     {"event_type": "Score", "frags": 77, "client_id": 2, "name": "Isgalamido"}),
    ("10:12 score: -77  ping: 3  client: 5 Dono da Bola",
     {"event_type": "Score", "frags": -77, "client_id": 5, "name": "Dono da Bola"}),
    ("10:28 ShutdownGame:", {"event_type": "ShutdownGame"}),
    # extra: victim name containing " by " exercises the rsplit rule (rs:113)
    ("10:00 Kill: 3 4 6: A killed B by C by MOD_ROCKET",
     {"event_type": "Kill", "killer_name": "A", "victim_name": "B by C",
      "reason_name": "MOD_ROCKET"}),
]

# (line, expected error kind) — malformed cases (rs:296-353)
ERROR_CASES = [
    ("", "EmptyLine"),
    ("20:37------------------------------------------------------------", "UnrecognizedLineFormat"),
    ("------------------------------------------------------------", "UnrecognizedLineFormat"),
    ("any: info", "UnrecognizedLineFormat"),
    (INIT_DM.replace("InitGame", "Init_Game"), "UnknownEventName"),
    (" 2:33 ClientConnect: 2a", "UnparseableNumber"),
    (" 2:33 ClientConnect: _2", "UnparseableNumber"),
    (r"2:33 ClientUserinfoChanged: 2 not_n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "AbsentKey"),
    (r"2:33 ClientUserinfoChanged: n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "UnknownDataFormat"),
    (r"2:33 ClientUserinfoChanged: _2_ n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "UnparseableNumber"),
    # the famous permissive-log line 97 shape: "  26  0:00 ----..."
    (" 26  0:00 ------------------------------------------------------------", "UnknownEventName"),
    # red/score error PRECEDENCE (reference order, deserializer_logs.rs:128-150):
    # first-space split -> UnknownDataFormat, first number -> UnparseableNumber,
    # second split -> UnknownDataFormat, second number -> UnparseableNumber
    ("10:12 red:8", "UnknownDataFormat"),            # no space in data
    ("10:12 red:x blue:6", "UnparseableNumber"),     # red value bad
    ("10:12 red:x y", "UnparseableNumber"),          # red bad AND blue split bad -> red first
    ("10:12 red:8 blue6", "UnknownDataFormat"),      # blue split (no ':') fails
    ("10:12 red:8 blue:x", "UnparseableNumber"),     # blue value bad
    ("10:12 score: 77", "UnknownDataFormat"),        # no space in data
    ("10:12 score: xx  ping: 3  client: 2 Foo", "UnparseableNumber"),  # frags bad
    ("10:12 score: x y", "UnparseableNumber"),       # frags bad AND client split bad -> frags first
    ("10:12 score: 77 ping 3 client 2", "UnknownDataFormat"),   # no ': '-split client values
    ("10:12 score: 77  ping: 3  client: 2", "UnknownDataFormat"),  # client id/name split fails
    ("10:12 score: 77  ping: 3  client: 2x Foo", "UnparseableNumber"),  # client id bad
]

ALL_LINES = [c[0] for c in VALID_CASES] + [c[0] for c in ERROR_CASES]


def _check(row: dict, expected: dict, line: str):
    for k, v in expected.items():
        got = row[k]
        if pd.isna(got):
            got = None
        assert got == v, f"line {line!r}: {k} = {got!r}, want {v!r}"


class TestPandasParser:
    @pytest.mark.parametrize("line,expected", VALID_CASES)
    def test_valid(self, line, expected):
        out = parse_lines_pd(pd.Series([line]))
        row = out.iloc[0].to_dict()
        assert pd.isna(row["parse_error_kind"]), f"unexpected error: {row['parse_error']}"
        _check(row, expected, line)

    @pytest.mark.parametrize("line,kind", ERROR_CASES)
    def test_errors(self, line, kind):
        out = parse_lines_pd(pd.Series([line]))
        row = out.iloc[0].to_dict()
        assert row["parse_error_kind"] == kind, (
            f"line {line!r}: kind = {row['parse_error_kind']!r} "
            f"({row['parse_error']!r}), want {kind!r}"
        )
        assert pd.isna(row["event_type"])


class TestExprParser:
    @pytest.fixture(scope="class")
    def parsed(self, spark):
        df = spark.createDataFrame(
            [(i, line) for i, line in enumerate(ALL_LINES)], "idx int, text string"
        )
        rows = parse_expr_df(df).orderBy("idx").collect()
        return {ALL_LINES[r["idx"]]: r.asDict() for r in rows}

    @pytest.mark.parametrize("line,expected", VALID_CASES)
    def test_valid(self, parsed, line, expected):
        row = parsed[line]
        assert row["parse_error_kind"] is None, f"unexpected error: {row['parse_error']}"
        _check(row, expected, line)

    @pytest.mark.parametrize("line,kind", ERROR_CASES)
    def test_errors(self, parsed, line, kind):
        row = parsed[line]
        assert row["parse_error_kind"] == kind, (
            f"line {line!r}: kind = {row['parse_error_kind']!r} "
            f"({row['parse_error']!r}), want {kind!r}"
        )
        assert row["event_type"] is None


def test_parsers_agree_on_reference_fixtures(spark):
    """Both production parsers (expr / arrow) must produce the pandas
    oracle's typed columns on every unit-case line, every reference
    fixture line when the fixtures are present, and a NULL text row, which
    every parser must treat as the empty string (EmptyLine)."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from tests.conftest import FIXTURES_BLL, FIXTURES_DAL, fixture_lines

    lines: list[str | None] = []
    for p in [
        FIXTURES_BLL / "qgames_permissive.log",
        FIXTURES_BLL / "discrepant.log",
        FIXTURES_DAL / "malformed_line.log",
        FIXTURES_DAL / "qgames_excerpt.log",
    ]:
        if p.exists():
            lines.extend(fixture_lines(p))
    lines.extend(ALL_LINES)
    lines.append(None)  # schema-legal NULL text

    df = spark.createDataFrame(
        [(i + 1, l) for i, l in enumerate(lines)], "turn_idx int, text string"
    )
    oracle = oracle_rows(lines)
    assert oracle[-1][EVENT_COLUMN_NAMES.index("parse_error_kind") + 1] == "EmptyLine"
    for parser in ("expr", "arrow"):
        got = [
            tuple(r)
            for r in parse_transcripts(df, parser=parser)
            .select("turn_idx", *EVENT_COLUMN_NAMES)
            .orderBy("turn_idx")
            .collect()
        ]
        mismatches = [
            (lines[o[0] - 1], {c: (x, y) for c, x, y in
                               zip(EVENT_COLUMN_NAMES, g[1:], o[1:]) if x != y})
            for g, o in zip(got, oracle) if g != o
        ]
        assert len(got) == len(oracle)
        assert not mismatches, (
            f"{parser} vs oracle: {len(mismatches)} mismatches, first 5: "
            f"{mismatches[:5]}"
        )

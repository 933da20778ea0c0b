"""Seeded transcript generator for the benchmark.

Writes a transcripts table (conv_id, turn_idx, role, text, tool, ts) as
parquet, with every ``text`` in the Quake3 log-line grammar of FIXTURES.md,
and keeps the ground-truth event of every line so that expected outputs can
be computed without the package's parsers, window or aggregates.

A conversation is a run of matches.  Each match is ``InitGame``, a
connect/userinfo/begin triple per player, a body drawn from an event mix,
an optional ``Exit``, one ``score`` line per player, ``ShutdownGame`` and a
separator comment.  Conversations are cut at their turn budget, so the last
match of most conversations is unterminated and emits no summary.
Malformed lines are inserted between events, never in place of one.

The same (workload, seed) always gives the same table: all randomness comes
from one ``random.Random`` seeded with both.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from pathlib import Path

WORLD_ID = 1022
WORLD = "<world>"
MEANS = [
    (1, "MOD_SHOTGUN"), (3, "MOD_MACHINEGUN"), (6, "MOD_ROCKET"),
    (7, "MOD_ROCKET_SPLASH"), (10, "MOD_RAILGUN"), (19, "MOD_FALLING"),
    (22, "MOD_TRIGGER_HURT"),
]
NAMES = [
    "Isgalamido", "Dono da Bola", "Zeh", "Assasinu Credi", "Mocinha",
    "Oootsimo", "Chessus", "Mal", "Fasano Again", "UnnamedPlayer",
    "Maluquinho", "Bartolo",
]
# shapes from the parser's error fixtures (FIXTURES.md §1, last row)
MALFORMED = [
    "",
    "20:37------------------------------------------------------------",
    "any: info",
    " 2:33 ClientConnect: 2a",
    " 3:10 Kill: 2 x 7: Zeh killed Mal by MOD_ROCKET",
]
ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["bash", "editor", "search", "browser", "none"]
INIT_DATA = (
    r"\sv_floodProtect\1\sv_maxPing\0\sv_minPing\0\sv_maxRate\10000"
    r"\sv_hostname\Code Miner Server\g_gametype\0\fraglimit\20"
    r"\timelimit\15\capturelimit\8\mapname\q3dm17"
)
USERINFO_TAIL = r"\t\0\model\sarge\hmodel\sarge\c1\4\c2\5\hc\100\w\0\l\0"
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
PLAYERS = (4, 6)  # players joining at match start
BODY = (40, 80)  # body events per match
WORLD_KILL = 0.25  # share of kills by <world>
EXIT = 0.7  # share of matches with an Exit before ShutdownGame

# event types each summary menu reads (the rest is dropped before or by it)
_MARKERS = {"InitGame", "Exit", "ShutdownGame", "Kill"}
_CLIENT = {"ClientConnect", "ClientUserinfoChanged", "ClientDisconnect"}


def consumed_types(ops: frozenset[str]) -> set[str]:
    types = set(_MARKERS)
    if "reported_scores" in ops:
        types.add("Score")
    if "player_resolutions" in ops:
        types |= _CLIENT | {"Score"}
    return types


@dataclass(frozen=True)
class Mix:
    """Body-event weights."""

    kill: float
    item: float
    say: float
    comment: float
    begin: float
    rename: float = 0.0
    reconnect: float = 0.0


@dataclass
class Generated:
    lines_by_conv: list[tuple[str, list[str]]]
    # per conv: list of (turn_idx, event_type, client_id, name, killer_id,
    # victim_id, killer_name, victim_name, reason_name, frags); None
    # event_type marks a malformed line
    events_by_conv: list[tuple[str, list[tuple]]]

    @property
    def turns(self) -> int:
        return sum(len(lines) for _, lines in self.lines_by_conv)

    def properties(self, ops: frozenset[str]) -> dict[str, float]:
        """Measured input properties, for checking a claim against the
        workloads that have (or lack) the property."""
        keep = consumed_types(ops)
        n = self.turns
        consumed = malformed = 0
        for _, evs in self.events_by_conv:
            for ev in evs:
                if ev[1] is None:
                    malformed += 1
                elif ev[1] in keep:
                    consumed += 1
        hot = max(len(lines) for _, lines in self.lines_by_conv)
        return {
            "turns": n,
            "conversations": len(self.lines_by_conv),
            "consumed_rows": consumed,
            "consumed_share": consumed / n,
            "hot_conv_share": hot / n,
            "malformed_share": malformed / n,
        }

    def type_counts(self) -> dict[str | None, int]:
        out: dict[str | None, int] = {}
        for _, evs in self.events_by_conv:
            for ev in evs:
                out[ev[1]] = out.get(ev[1], 0) + 1
        return out


def _ev(et, client_id=None, name=None, killer_id=None, victim_id=None,
        killer_name=None, victim_name=None, reason_name=None, frags=None):
    return (et, client_id, name, killer_id, victim_id, killer_name,
            victim_name, reason_name, frags)


class _Conv:
    def __init__(self, rng: random.Random, mix: Mix):
        self.rng = rng
        self.mix = mix
        self.lines: list[str] = []
        self.events: list[tuple] = []

    def emit(self, body: str, ev: tuple) -> None:
        i = len(self.lines)
        self.lines.append(f"{i // 60 % 100:2d}:{i % 60:02d} {body}")
        self.events.append(ev)

    def match(self) -> None:
        rng, mix = self.rng, self.mix
        free = list(NAMES)
        rng.shuffle(free)
        players: dict[int, str] = {}
        next_id = 2
        self.emit(f"InitGame: {INIT_DATA}", _ev("InitGame"))

        def join(name: str) -> None:
            nonlocal next_id
            cid, next_id = next_id, next_id + 1
            players[cid] = name
            self.emit(f"ClientConnect: {cid}", _ev("ClientConnect", client_id=cid))
            self.emit(
                f"ClientUserinfoChanged: {cid} n\\{name}{USERINFO_TAIL}",
                _ev("ClientUserinfoChanged", client_id=cid, name=name),
            )
            self.emit(f"ClientBegin: {cid}", _ev("ClientBegin", client_id=cid))

        for _ in range(rng.randint(*PLAYERS)):
            join(free.pop())
        kinds = ["kill", "item", "say", "comment", "begin", "rename", "reconnect"]
        weights = [getattr(mix, k) for k in kinds]
        for kind in rng.choices(kinds, weights, k=rng.randint(*BODY)):
            ids = sorted(players)
            if kind == "kill":
                vid = rng.choice(ids)
                reason_id, reason = rng.choice(MEANS)
                if rng.random() < WORLD_KILL:
                    kid, kname = WORLD_ID, WORLD
                else:
                    kid = rng.choice([i for i in ids if i != vid])
                    kname = players[kid]
                vname = players[vid]
                self.emit(
                    f"Kill: {kid} {vid} {reason_id}: {kname} killed {vname} by {reason}",
                    _ev("Kill", killer_id=kid, victim_id=vid, killer_name=kname,
                        victim_name=vname, reason_name=reason),
                )
            elif kind == "item":
                self.emit(f"Item: {rng.choice(ids)} weapon_rocketlauncher", _ev("Item"))
            elif kind == "say":
                self.emit(f"say: {players[rng.choice(ids)]}: gg", _ev("Say"))
            elif kind == "comment":
                self.emit("-" * 60, _ev("Comment"))
            elif kind == "begin":
                self.emit(f"ClientBegin: {rng.choice(ids)}", _ev("ClientBegin"))
            elif kind == "rename" and free:
                cid, name = rng.choice(ids), free.pop()
                players[cid] = name
                self.emit(
                    f"ClientUserinfoChanged: {cid} n\\{name}{USERINFO_TAIL}",
                    _ev("ClientUserinfoChanged", client_id=cid, name=name),
                )
            elif kind == "reconnect":
                cid = rng.choice(ids)
                name = players.pop(cid)
                self.emit(f"ClientDisconnect: {cid}", _ev("ClientDisconnect", client_id=cid))
                join(name)
        if rng.random() < EXIT:
            self.emit("Exit: Fraglimit hit.", _ev("Exit"))
        for cid, name in sorted(players.items()):
            frags = rng.randint(-5, 30)
            self.emit(
                f"score: {frags}  ping: {rng.randint(0, 99)}  client: {cid} {name}",
                _ev("Score", client_id=cid, name=name, frags=frags),
            )
        self.emit("ShutdownGame:", _ev("ShutdownGame"))
        self.emit("-" * 60, _ev("Comment"))


def generate(
    seed: str,
    turns: int,
    convs: int,
    mix: Mix,
    hot_share: float = 0.0,
    malformed_share: float = 0.0,
) -> Generated:
    """Generate ``turns`` lines over ``convs`` conversations.

    ``hot_share`` of the turns go to conversation 0; the rest are split
    evenly.  ``malformed_share`` of the final lines are malformed.
    """
    rng = random.Random(seed)
    hot = round(turns * hot_share)
    rest = turns - hot
    sizes = [rest // convs + (1 if i < rest % convs else 0) for i in range(convs)]
    sizes[0] += hot
    n_bad = round(turns * malformed_share)
    bad_at = set(rng.sample(range(turns), n_bad))
    lines_by_conv, events_by_conv = [], []
    pos = 0
    for c, size in enumerate(sizes):
        conv = _Conv(rng, mix)
        while len(conv.lines) < size:
            conv.match()
        lines, events = [], []
        src = iter(zip(conv.lines, conv.events))
        for k in range(size):
            if pos + k in bad_at:
                lines.append(rng.choice(MALFORMED))
                events.append(_ev(None))
            else:
                line, ev = next(src)
                lines.append(line)
                events.append(ev)
        pos += size
        conv_id = f"conv-{c:06d}"
        lines_by_conv.append((conv_id, lines))
        events_by_conv.append(
            (conv_id, [(t + 1, *ev) for t, ev in enumerate(events)])
        )
    return Generated(lines_by_conv, events_by_conv)


def write_parquet(gen: Generated, out_dir: Path, n_files: int) -> None:
    """Write the table as ``n_files`` parquet files of contiguous rows, so
    the scan has several splits to run in parallel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    conv_ids, turn_idx, roles, texts, tools, ts = [], [], [], [], [], []
    for c, (conv_id, lines) in enumerate(gen.lines_by_conv):
        day = EPOCH + dt.timedelta(days=c)
        for i, line in enumerate(lines):
            conv_ids.append(conv_id)
            turn_idx.append(i + 1)
            roles.append(ROLES[i % len(ROLES)])
            texts.append(line)
            tools.append(TOOLS[i % len(TOOLS)])
            ts.append(day + dt.timedelta(seconds=i))
    schema = pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ])
    table = pa.table(
        [conv_ids, turn_idx, roles, texts, tools, ts], schema=schema
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), out_dir / f"part-{k:03d}.parquet")

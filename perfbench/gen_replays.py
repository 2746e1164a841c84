"""Seeded replay documents (HTML page + replay-data JSON) with ground truth.

Each replay follows the shape the pipeline parses: the stats page carries
mission, island, commanders, winner, active/slot counts and times; the JSON
document carries ``factions``, ``vehiclesUnits``, ``players`` and
``playersDead``. Sizes are drawn per replay (players, frags, vehicles), and
players are drawn from one shared pool so they recur across replays and the
``d_players`` upsert updates existing rows. Some timed replays rename a
player, which the upsert must carry into every later answer.

:class:`ReplayTruth` replays the warehouse semantics in plain Python (the
eight analytics queries over everything loaded so far, including the
reference's cross-replay survivor rule) and gives the outbox document each
replay must produce.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from collections import Counter
from dataclasses import dataclass, field

SIDES = ("EAST", "WEST", "GUER", "CIV")
ISLANDS = ("Altis", "Stratis", "Chernarus", "Takistan", "Malden", "Tanoa &amp; Co")
VEHICLE_TYPES = (
    ("tank", ("T-72B3", "T-90", "M1A2")),
    ("apc", ("BMP-2", "BTR-80", "M113")),
    ("car", ("UAZ", "Offroad", "Hunter")),
    ("truck", ("Ural", "KamAZ")),
    ("heli", ("Mi-8MT", "UH-60")),
    ("static-weapon", ("DShKM", "Kord")),
    ("boat", ("RHIB",)),  # not in the display mapping: passes through
)
GUNS = ("AKM", "AK-74", "M4A1", "PKM", "SVD", "RPG-7", "M249")
ROLES = ("Rifleman", "Medic", "AT", "MG", "Sniper", "Leader")

#: first replay number of a generated stream
FIRST_REPLAY = 5000
#: size of the shared player pool
POOL = 600
#: 2024-10-05 00:00:00 UTC; frag epochs stay inside this day
DAY0 = int(dt.datetime(2024, 10, 5, tzinfo=dt.timezone.utc).timestamp())


@dataclass
class Replay:
    number: int
    html: str
    body: str
    # plain-Python view of what was generated
    winner: str
    island: str
    mission: str
    active: int
    slots: int
    players: dict[int, tuple[int, str, str]]  # id -> (side, nickname, slot)
    vehicles: list[tuple[str, str]]  # (type, name) per vehicle unit
    frags: list[dict]  # rows in frags-table order (epoch, victim)

    @property
    def input_bytes(self) -> int:
        return len(self.html.encode()) + len(self.body.encode())


def _page(n: int, mission: str, island: str, commanders: dict[str, str],
          winner: str, active: int, slots: int) -> str:
    parts = [
        "<title>Реплей от 05.10.2024 / WOG Stats</title>",
        f'<a href="/missions/{n % 97}/">{mission}</a>',
        f"<th>Остров</th><td>{island}</td>",
    ]
    for side, cmdr in commanders.items():
        parts.append(
            f'{side}</span></th><td><div class="position-relative" '
            f'data-toggle="current"><a href="/projects/wog-a3/players/7/">'
            f"{cmdr}</a>"
        )
    parts += [
        f'<th>Сторона-победитель</th><td><span style="color: #a00">{winner}</span></td>',
        f"<th>Количество игроков / слотов</th><td>{active} / {slots}</td>",
        "<th>Дата и время старта миссии</th><td>сб, 19:05:00</td>",
        "<th>Дата и время окончания миссии</th><td>сб, 21:30:00</td>",
        "<th>Длительность миссии</th><td>2:25:00</td>",
    ]
    return "\n\t".join(parts)


def _nickname(pid: int, generation: int) -> str:
    return f"P{pid}" if generation == 0 else f"P{pid}r{generation}"


def generate(seed: int, n: int, first: int = FIRST_REPLAY,
             renames: bool = True) -> list[Replay]:
    """``n`` replays numbered ``first..first+n-1``; same seed, same bytes.

    With ``renames`` a few players take a new nickname in each replay (the
    dimension upsert's update path). A batch loaded in one call must not
    rename (one player would carry two nicknames in the batch), so history
    is generated with ``renames=False``.
    """
    rng = random.Random(seed * 1_000_003 + first)
    out = []
    for i in range(n):
        num = first + i
        n_players = rng.randint(100, 160)
        ids = sorted(rng.sample(range(1000, 1000 + POOL), n_players))
        players: dict[int, tuple[int, str, str]] = {}
        for pid in ids:
            side = rng.choice((1, 1, 2, 2, 3)) if rng.random() < 0.97 else 4
            gen = num if renames and rng.random() < 0.03 else 0
            players[pid] = (side, _nickname(pid, gen), rng.choice(ROLES))
        vehicles = []
        for _ in range(rng.randint(10, 50)):
            vtype, names = rng.choice(VEHICLE_TYPES)
            vehicles.append((vtype, rng.choice(names)))
        start = DAY0 + 19 * 3600 + 300
        victims = rng.sample(ids, int(n_players * rng.uniform(0.3, 0.8)))
        dead: dict[str, dict[str, list]] = {}
        frags = []
        for victim in victims:
            epoch = start + rng.randint(0, 8000)
            killer = rng.choice(ids) if rng.random() < 0.93 else None
            if killer == victim:
                killer = None
            tk = killer is not None and players[killer][0] == players[victim][0]
            row = [
                rng.choice(("T-72B3", "UAZ")) if rng.random() < 0.1 else None,
                killer,
                rng.choice(("BMP-2", "Mi-8MT")) if rng.random() < 0.15 else None,
                rng.choice(GUNS) if rng.random() < 0.85 else None,
                rng.randint(1, 1500) if rng.random() < 0.9 else None,
                1 if tk and rng.random() < 0.8 else 0,
            ]
            dead.setdefault(str(epoch), {})[str(victim)] = row
            frags.append({"epoch": epoch, "victim": victim, "row": row})
        frags.sort(key=lambda f: (f["epoch"], f["victim"]))
        for j, f in enumerate(frags, 1):
            f["id"] = num * 1_000_000 + j
        counts = Counter(p[0] for p in players.values())
        doc = {
            "factions": {str(s): [0, 0, counts.get(s, 0)] for s in (1, 2, 3, 4)},
            "vehiclesUnits": {
                str(100 + j): [t, nm] for j, (t, nm) in enumerate(vehicles)
            },
            "players": {
                str(pid): [s, nick, role, "A"]
                for pid, (s, nick, role) in players.items()
            },
            "playersDead": dead,
        }
        sides_present = [SIDES[s - 1] for s in (1, 2, 3, 4) if counts.get(s)]
        commanders = {s: f"Cmdr{num % 50}{s[0]}" for s in sides_present[:2]}
        winner = rng.choice(sides_present[:2])
        slots = n_players + rng.randint(0, 40)
        mission = f"Mission {num}"
        island = rng.choice(ISLANDS)  # the page escapes "&"; the island is unescaped
        out.append(Replay(
            number=num,
            html=_page(num, mission, island, commanders, winner, n_players, slots),
            body=json.dumps(doc, ensure_ascii=False),
            winner=winner, island=island.replace("&amp;", "&"), mission=mission,
            active=n_players, slots=slots, players=players,
            vehicles=vehicles, frags=frags,
        ))
    return out


VEHICLE_DISPLAY = {
    "static-mortar": "Миномет", "static-weapon": "Стационарное",
    "apc": "БМП/БТР", "car": "Автомобиль", "tank": "Танк",
    "truck": "Грузовик", "parachute": "Парашют", "plane": "Авиация",
    "heli": "Вертолет", "sea": "Флот",
}
SIDE_LABELS = {1: ":red_square: EAST", 2: ":blue_square: WEST",
               3: ":green_square: GUER", 4: ":purple_square: CIV"}


@dataclass
class ReplayTruth:
    """Warehouse state replayed in Python: the current nickname of every
    player (upsert: latest load wins) and every victim ever loaded."""

    nick: dict[int, str] = field(default_factory=dict)
    victims: set[int] = field(default_factory=set)
    loaded: set[int] = field(default_factory=set)

    def load(self, replay: Replay) -> None:
        for pid, (_, nick, _) in replay.players.items():
            self.nick[pid] = nick
        self.victims.update(f["victim"] for f in replay.frags)
        self.loaded.add(replay.number)

    def cutlets(self, r: Replay, tk: bool) -> list[dict]:
        kills = Counter(
            f["row"][1] for f in r.frags
            if f["row"][1] is not None and bool(f["row"][5]) == tk
        )
        ranks = {c: i for i, c in enumerate(sorted(set(kills.values()), reverse=True), 1)}
        rows = sorted(
            ({"killer": k, "nickname": self.nick[k], "kills": c, "rank": ranks[c]}
             for k, c in kills.items()),
            key=lambda d: (d["rank"], d["killer"]),
        )
        return rows[:5]

    def _frag_row(self, f: dict) -> dict:
        vv, killer, kv, gun, dist, tk = f["row"]
        t = dt.datetime.fromtimestamp(f["epoch"], dt.timezone.utc)
        return {
            "time": t.strftime("%H:%M:%S"), "killer": killer,
            "victim": f["victim"],
            "killer_nickname": self.nick.get(killer) if killer is not None else None,
            "victim_nickname": self.nick.get(f["victim"]),
            "killer_vehicle": kv, "victim_vehicle": vv, "distance": dist,
            "is_tk": tk == 1, "gun": gun,
        }

    def document(self, r: Replay) -> dict:
        """The outbox document ``data_message`` must write for ``r``
        (after ``load`` of ``r``): header fields and the eight results."""
        counts = Counter((t, nm) for t, nm in r.vehicles)
        vehicles = sorted(
            ({"name": nm, "type": t, "cnt": c} for (t, nm), c in counts.items()),
            key=lambda d: (d["type"], d["name"]),
        )
        grouped: dict[str, list[str]] = {}
        for v in vehicles:
            disp = VEHICLE_DISPLAY.get(v["type"], v["type"])
            grouped.setdefault(disp, []).append(f"{v['name']}:{v['cnt']}")
        side_counts = Counter(p[0] for p in r.players.values())
        frags = r.frags
        key_time = lambda f: (self._frag_row(f)["time"], f["id"])  # noqa: E731
        survivors = sorted(
            (pid, self.nick[pid], side)
            for pid, (side, _, _) in r.players.items()
            if pid not in self.victims
        )
        group = Counter(SIDE_LABELS[s] for _, _, s in survivors)
        return {
            "replay": {
                "replay_number": r.number, "island": r.island,
                "name_mission": r.mission, "winner": r.winner,
                "count_players_active": r.active,
                "count_players_slots": r.slots,
                **{f"count_players_{s.lower()}": side_counts.get(i, 0)
                   for i, s in enumerate(SIDES, 1)},
            },
            "vehicles": vehicles,
            "grouped_vehicles": [
                {"display_type": d, "items": ",".join(sorted(items))}
                for d, items in sorted(grouped.items())
            ],
            "cutlets": self.cutlets(r, tk=False),
            "tks": self.cutlets(r, tk=True),
            "fb": [self._frag_row(min(frags, key=key_time))] if frags else [],
            "lh": [self._frag_row(min(
                frags, key=lambda f: (_neg(self._frag_row(f)["time"]), f["id"])
            ))] if frags else [],
            "ls": [self._frag_row(min(
                frags,
                key=lambda f: (f["row"][4] is None, -(f["row"][4] or 0), f["id"]),
            ))] if frags else [],
            "survivors": [
                {"id_from_json": p, "nickname": n, "side": s}
                for p, n, s in survivors
            ],
            "survivors_group": sorted(
                ({"side_label": lab, "cnt": c} for lab, c in group.items()),
                key=lambda d: (-d["cnt"], d["side_label"]),
            ),
        }


def _neg(s: str) -> tuple:
    """Sort key reversing a string's order (descending time)."""
    return tuple(-ord(ch) for ch in s)

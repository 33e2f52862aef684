"""Seeded input generators for the benchmark.

Everything here is plain Python/NumPy driven by one seed: the same seed
gives byte-identical records. Two families:

- ``season_archive``: OpenF1-shaped JSON records for the
  laps, position and race_control endpoints, with the dirt of
  FIXTURES.md section A.6 planted (null sentinels, null grain keys,
  historical/realtime overlap, duplicate realtime rows, laps with no
  earlier position sample, short and single-lap drivers, a zero lap
  time, a single-driver session).
- ``corpus``: a Zipfian-vocabulary document corpus with planted exact
  duplicates (case/whitespace variants) and planted near-duplicates
  (3 tokens edited).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

DRIVERS = [1, 11, 16, 55, 44, 63, 4, 81, 14, 18,
           10, 31, 23, 2, 22, 3, 77, 24, 27, 20]
SENTINELS = ["", " ", "None", "none", "NULL", "null", "NaN", "nan", "NAN"]
TABLES = ("laps", "position", "race_control")
RC_EVENTS = [
    ("Flag", "GREEN", "Track", "GREEN LIGHT - PIT EXIT OPEN"),
    ("Flag", "YELLOW", "Sector", "YELLOW IN TRACK SECTOR {s}"),
    ("Flag", "CLEAR", "Sector", "CLEAR IN TRACK SECTOR {s}"),
    ("Flag", "DOUBLE YELLOW", "Sector", "DOUBLE YELLOW IN TRACK SECTOR {s}"),
    ("Drs", None, None, "DRS ENABLED"),
    ("Other", None, None, "TRACK LIMITS - CAR {d} - TURN 4 LAP {l}"),
    ("CarEvent", None, "Driver", "CAR {d} NOTED - PIT LANE INFRINGEMENT"),
    ("SafetyCar", None, None, "VIRTUAL SAFETY CAR DEPLOYED"),
]


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+00:00"


@dataclass
class Session:
    """One generated session: its keys and the records of each
    endpoint."""
    meeting_key: int
    session_key: int
    year: int
    name: str
    records: dict[str, list[dict]] = field(default_factory=dict)


def _session(rng: random.Random, meeting_key: int, session_key: int,
             year: int, name: str, start: datetime, drivers: list[int],
             laps: int) -> Session:
    """Laps, positions (~3 samples per lap, the first one after the lap
    starts, so every lap 1 has no earlier sample) and ~60 race-control
    messages for one session, with sentinel dirt in value cells and a
    few null grain keys."""
    base = rng.uniform(78.0, 98.0)
    lap_rows: list[dict] = []
    pos_rows: list[dict] = []
    # per-driver lap count: with a full grid, one driver retires after a
    # single lap and one a third of the way in (partial rolling
    # windows); the others finish. Fixed counts keep the lap total
    # independent of the seed.
    n_laps = {d: laps for d in drivers}
    if len(drivers) > 2:
        one, third = rng.sample(drivers, 2)
        n_laps[one], n_laps[third] = 1, max(2, laps // 3)
    clock = {d: start + timedelta(seconds=0.35 * i)
             for i, d in enumerate(drivers)}
    skill = {d: rng.uniform(-1.2, 1.2) for d in drivers}
    for lap in range(1, laps + 1):
        running = [d for d in drivers if n_laps[d] >= lap]
        if not running:
            break
        durations = {}
        for d in running:
            pit = lap > 1 and lap % 19 == (d % 7)
            dur = base + skill[d] + 0.02 * lap + rng.gauss(0, 0.4) \
                + (21.5 if pit else 0.0)
            durations[d] = (pit, round(dur, 3))
        order = sorted(running, key=lambda d: clock[d]
                       + timedelta(seconds=durations[d][1]))
        for d in running:
            pit, dur = durations[d]
            t0 = clock[d]
            s1 = round(dur * 0.31, 3)
            s2 = round(dur * 0.37, 3)
            s3 = round(dur - s1 - s2, 3)
            row = {
                "meeting_key": meeting_key, "session_key": session_key,
                "driver_number": d, "lap_number": lap,
                "date_start": _iso(t0),
                "duration_sector_1": s1, "duration_sector_2": s2,
                "duration_sector_3": s3, "lap_duration": dur,
                "i1_speed": rng.randint(270, 320),
                "i2_speed": rng.randint(260, 315),
                "st_speed": rng.randint(290, 335),
                "is_pit_out_lap": pit,
                "segments_sector_1": [2049, 2049, 2051][: rng.randint(1, 3)],
                "segments_sector_2": [2049, 2048, 2051, 2049],
                "segments_sector_3": [2051, 2049, 2049, 2064],
                "year": year,
            }
            u = rng.random()
            if u < 0.01:
                row["lap_duration"] = rng.choice(SENTINELS)
            elif u < 0.03:
                row["duration_sector_2"] = rng.choice(SENTINELS)
            elif u < 0.0315:
                row["lap_duration"] = 0
            elif u < 0.0345:
                # null grain key: staging drops the row
                row[rng.choice(["driver_number", "lap_number"])] = \
                    rng.choice([None, "None", "null"])
            lap_rows.append(row)
            pos = order.index(d) + 1
            for k in range(3):
                ts = t0 + timedelta(seconds=0.5 + k * dur / 3)
                prow = {"date": _iso(ts), "session_key": session_key,
                        "meeting_key": meeting_key, "driver_number": d,
                        "position": pos, "year": year}
                v = rng.random()
                if v < 0.01:
                    prow["position"] = rng.choice(SENTINELS)
                elif v < 0.012:
                    prow["date"] = None
                pos_rows.append(prow)
            clock[d] = t0 + timedelta(seconds=dur)
    span = max(clock.values()) - start
    rc_rows: list[dict] = []
    for i in range(60):
        cat, flag, scope, msg = rng.choice(RC_EVENTS)
        d = rng.choice(drivers)
        lap = rng.randint(1, laps)
        sector = rng.randint(1, 20)
        rc_rows.append({
            "meeting_key": meeting_key, "session_key": session_key,
            "date": _iso(start + span * (i / 60.0)),
            "driver_number": d if scope == "Driver" else "None",
            "lap_number": lap if rng.random() < 0.7 else "None",
            "category": cat,
            "flag": flag if flag else "None",
            "scope": scope if scope else "None",
            "sector": (float(sector) if scope == "Sector"
                       else rng.choice(["nan", "None", ""])),
            "message": msg.format(s=sector, d=d, l=lap),
        })
    s = Session(meeting_key, session_key, year, name)
    s.records = {"laps": lap_rows, "position": pos_rows,
                 "race_control": rc_rows}
    return s


def _realtime_copy(rng: random.Random, s: Session) -> dict[str, list[dict]]:
    """The realtime leg's view of a session: every record again (the
    delete+reload), laps with a different lap_duration so realtime must
    win, and ~10% of laps sent twice with a later date_start (latest
    wins)."""
    laps = []
    for r in s.records["laps"]:
        r2 = dict(r)
        if isinstance(r2["lap_duration"], float):
            r2["lap_duration"] = round(r2["lap_duration"] + 0.111, 3)
        laps.append(r2)
        if rng.random() < 0.1:
            r3 = dict(r2)
            r3["date_start"] = _iso(datetime.fromisoformat(
                r2["date_start"]) + timedelta(milliseconds=1))
            if isinstance(r3["lap_duration"], float):
                r3["lap_duration"] = round(r3["lap_duration"] - 0.05, 3)
            laps.append(r3)
    return {"laps": laps,
            "position": [dict(r) for r in s.records["position"]],
            "race_control": [dict(r) for r in s.records["race_control"]]}


@dataclass
class Archive:
    """A multi-session archive, per raw table, ready to land."""
    sessions: list[Session]
    # "<table>_<leg>" -> records, e.g. "laps_historical"
    raw: dict[str, list[dict]]

    def json_bytes(self) -> int:
        return sum(len(json.dumps(r)) for rows in self.raw.values()
                   for r in rows)

    def row_counts(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.raw.items()}


def season_archive(seed: int, seasons: int, meetings: int,
                   race_laps: int = 57, quali_laps: int = 18,
                   first_year: int = 2021) -> Archive:
    """``seasons`` x ``meetings`` x {Qualifying, Race} x 20 drivers,
    plus one single-driver session per season. The last race also
    arrives on the realtime leg (overlap + duplicate realtime rows)."""
    rng = random.Random(seed)
    sessions: list[Session] = []
    for y in range(seasons):
        year = first_year + y
        for m in range(meetings):
            mk = 1000 + 100 * y + m
            day = datetime(year, 3, 3, 13, tzinfo=timezone.utc) \
                + timedelta(days=14 * m)
            sessions.append(_session(
                rng, mk, 10000 + 1000 * y + 3 * m, year, "Qualifying",
                day - timedelta(hours=22), DRIVERS, quali_laps))
            sessions.append(_session(
                rng, mk, 10000 + 1000 * y + 3 * m + 1, year, "Race",
                day, DRIVERS, race_laps))
        sessions.append(_session(
            rng, 1000 + 100 * y + 99, 10000 + 1000 * y + 999, year,
            "Practice", datetime(year, 2, 20, 10, tzinfo=timezone.utc),
            [rng.choice(DRIVERS)], 3))
    raw = {f"{t}_{leg}": [] for t in TABLES
           for leg in ("historical", "realtime")}
    for s in sessions:
        for t in TABLES:
            raw[f"{t}_historical"].extend(s.records[t])
    # sessions[-1] is the season's single-driver session
    for t, rows in _realtime_copy(rng, sessions[-2]).items():
        raw[f"{t}_realtime"].extend(rows)
    return Archive(sessions, raw)


# ---------------------------------------------------------------- corpus --


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    exact_groups: int            # planted groups of >= 2 exact copies
    near_pairs: list[tuple[int, int]]  # (original id, edited copy id)

    def json_bytes(self) -> int:
        return sum(len(json.dumps({"doc_id": i, "text": t}))
                   for i, t in self.docs)


def corpus(seed: int, n_docs: int, vocab: int = 20000,
           doc_tokens: int = 80, exact_groups: int = 400,
           near_dups: int = 800, edits: int = 3) -> Corpus:
    """``n_docs`` documents: distinct originals drawn from a Zipf(1.1)
    vocabulary, ``exact_groups`` originals copied 1-3 extra times with
    case/whitespace noise (the exact fingerprint normalizes both), and
    ``near_dups`` copies of other originals with ``edits`` tokens
    replaced by tokens the original does not contain."""
    import numpy as np

    rng = np.random.default_rng(seed)
    words = [f"w{i:05d}" for i in range(vocab)]
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    copies = rng.integers(1, 4, size=exact_groups)
    n_orig = n_docs - int(copies.sum()) - near_dups
    if n_orig < exact_groups + near_dups:
        raise ValueError("corpus too small for the planted duplicates")
    toks = rng.choice(vocab, size=(n_orig, doc_tokens), p=p)
    docs: list[tuple[int, str]] = []
    for i in range(n_orig):
        docs.append((i, " ".join(words[t] for t in toks[i])))
    next_id = n_orig
    for g in range(exact_groups):
        text = docs[g][1]
        for _ in range(int(copies[g])):
            noisy = text.upper() if rng.random() < 0.5 else text
            noisy = noisy.replace(" ", "  ", 3)
            docs.append((next_id, noisy))
            next_id += 1
    near_pairs: list[tuple[int, int]] = []
    for k in range(near_dups):
        src = exact_groups + k
        row = list(toks[src])
        present = set(row)
        for pos in rng.choice(doc_tokens, size=edits, replace=False):
            new = int(rng.integers(vocab))
            while new in present:
                new = int(rng.integers(vocab))
            present.add(new)
            row[pos] = new
        docs.append((next_id, " ".join(words[t] for t in row)))
        near_pairs.append((src, next_id))
        next_id += 1
    order = rng.permutation(len(docs))
    remap = {docs[j][0]: n for n, j in enumerate(order)}
    shuffled = [(n, docs[j][1]) for n, j in enumerate(order)]
    near = [(remap[a], remap[b]) for a, b in near_pairs]
    return Corpus(shuffled, exact_groups, near)

"""Seeded F1 bronze generator for the benchmark.

Writes the same Hive-partitioned parquet layout the pipeline reads
(``{root}/{endpoint}/year=/grand_prix=/session_type=/``), one file per
partition, with numpy + pyarrow so generation costs well under a second per
million lap rows. The shape follows ``tools/scale_stress.generate_bronze_scaled``;
positions, lap times and edge cases are drawn from the seed, and the edge
cases are those of ``tests/fixtures_f1.py``: DNF rows with a NULL position,
DNS rows, NULL lap durations (sector-sum fallback), a NULL sector (NULL lap
time), invalid pit durations (NULL and zero, filtered by silver), one
mid-season team change and reported points that disagree with the
position-derived points (the quality gate's reconciliation violations).

Every count the checks need is returned per weekend in a :class:`GrandPrix`,
so the benchmark knows the expected output without running the program.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POINTS = (25, 18, 15, 12, 10, 8, 6, 4, 2, 1)

# Real calendar names (accent and hyphen included) so the GP-name
# normalization runs on the same inputs as production; a round number keeps
# slugs unique when a season has more rounds than this list.
PLACES = (
    "Bahrain", "Saudi Arabian", "Australian", "Japanese", "Chinese", "Miami",
    "Emilia-Romagna", "Monaco", "Canadian", "Spanish", "Austrian", "British",
    "Hungarian", "Belgian", "Dutch", "Italian", "Azerbaijan", "Singapore",
    "United States", "Mexico City", "São Paulo", "Las Vegas", "Qatar",
    "Abu Dhabi",
)
TEAMS = (
    "Oracle Red Bull Racing", "Mercedes AMG Petronas", "Scuderia Ferrari",
    "McLaren", "Aston Martin", "Alpine", "Williams", "Visa Cash App RB",
    "Kick Sauber", "MoneyGram Haas F1 Team",
)
TEAM_CHANGE_DRIVER = 7

_SR_SCHEMA = [
    ("session_key", pa.int64()), ("meeting_key", pa.int64()),
    ("meeting_name", pa.string()), ("date_start", pa.timestamp("us")),
    ("date_end", pa.timestamp("us")), ("driver_number", pa.int32()),
    ("position", pa.int32()), ("duration", None), ("gap_to_leader", pa.float64()),
    ("points", pa.int32()), ("dnf", pa.bool_()), ("dns", pa.bool_()),
    ("dsq", pa.bool_()),
]


def gp_slug(place: str, rnd: int) -> str:
    """Bronze partition slug; equals the pipeline's normalized GP name."""
    folded = place.replace("ã", "a").lower()
    return f"r{rnd:02d}_" + "".join(c if c.isalnum() else "_" for c in folded)


@dataclass
class GrandPrix:
    """One generated weekend and the counts the pipeline must derive from it."""

    year: int
    rnd: int
    slug: str
    race_key: int
    laps: int = 0
    pit_valid: int = 0
    points_mismatch: int = 0
    bronze_bytes: int = 0


def _write(root: str, endpoint: str, gp: GrandPrix, st: str, cols: dict, schema: list) -> int:
    d = os.path.join(root, endpoint, f"year={gp.year}", f"grand_prix={gp.slug}", f"session_type={st}")
    os.makedirs(d, exist_ok=True)
    arrays = [pa.array(cols[n], type=t) for n, t in schema]
    table = pa.Table.from_arrays(arrays, names=[n for n, _ in schema])
    path = os.path.join(d, "part-000.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


def generate_bronze(
    root: str,
    seed: int,
    years: list[int],
    n_gp: int,
    n_laps: int,
    n_drivers: int = 20,
) -> list[GrandPrix]:
    """Write ``len(years) * n_gp`` Grand Prix weekends (qualifying + race) of
    bronze under ``root`` and return what the pipeline must make of them."""
    if n_gp > 99 or n_drivers > 99 or n_drivers < 10:
        raise ValueError("n_gp must be <= 99 and 10 <= n_drivers <= 99")
    out = []
    drv = np.arange(1, n_drivers + 1, dtype=np.int32)
    for year in years:
        rng = np.random.default_rng([seed, year])
        yoff = (year - 2000) * 1000
        for g in range(n_gp):
            place = PLACES[g % len(PLACES)]
            gp = GrandPrix(year, g + 1, gp_slug(place, g + 1), 10_000_000 + yoff * 10 + 2 * g + 1)
            out.append(gp)
            meeting = f"R{g + 1:02d} {place} Grand Prix"
            race_day = datetime(year, 3, 2) + timedelta(days=7 * g)
            for is_race in (0, 1):
                st = "race" if is_race else "qualifying"
                key = gp.race_key - 1 + is_race
                start = race_day + timedelta(days=is_race - 1, hours=14)
                # one qualifying per season has no end time (fixture edge case)
                end = None if (g == 1 and not is_race) else start + timedelta(hours=1 + is_race)
                pos = rng.permutation(n_drivers).astype(np.int32) + 1
                n = n_drivers
                if is_race:
                    dnf = pos > n_drivers - rng.integers(0, 3)
                    dns = (pos == n_drivers) & (g % 5 == 1)
                    dns &= ~dnf
                    shown = np.where(dnf, None, pos).tolist()
                    base = 5400.0 + pos * 9.5 + rng.random(n)
                    duration = np.where(dnf | dns, None, np.round(base, 3)).tolist()
                    gap = np.where((pos == 1) | dnf | dns, None, np.round(pos * 9.5 + rng.random(n), 3)).tolist()
                    pts = np.array([POINTS[p - 1] if p <= 10 else 0 for p in pos], dtype=np.int32)
                    pts[dnf] = 0
                    # reported points disagreeing with the points table
                    bad = (rng.random(n) < 0.02) & ~dnf
                    pts[bad] += 2
                    gp.points_mismatch += int(bad.sum())
                    dsq = np.zeros(n, dtype=bool)
                    dur_type = pa.float64()
                else:
                    dnf = dns = np.zeros(n, dtype=bool)
                    dsq = (pos == n_drivers) & (g % 4 == 2)
                    shown = pos.tolist()
                    q1 = np.round(78.0 + pos * 0.35 + rng.random(n) * 0.2, 3)
                    duration = [
                        [float(q)] + ([float(q - 0.4)] if p <= 15 else []) + ([float(q - 0.8)] if p <= 10 else [])
                        for q, p in zip(q1, pos)
                    ]
                    gap, pts = [None] * n, np.zeros(n, dtype=np.int32)
                    dur_type = pa.list_(pa.float64())
                schema = [(c, dur_type if t is None else t) for c, t in _SR_SCHEMA]
                gp.bronze_bytes += _write(root, "session_result", gp, st, {
                    "session_key": [key] * n, "meeting_key": [gp.race_key // 2] * n,
                    "meeting_name": [meeting] * n, "date_start": [start] * n,
                    "date_end": [end] * n, "driver_number": drv, "position": shown,
                    "duration": duration, "gap_to_leader": gap, "points": pts,
                    "dnf": dnf, "dns": dns, "dsq": dsq,
                }, schema)

                team_idx = (drv - 1) // 2
                if n_gp > 1:
                    team_idx = np.where((drv == TEAM_CHANGE_DRIVER) & (g >= n_gp // 2), team_idx + 1, team_idx)
                gp.bronze_bytes += _write(root, "drivers", gp, st, {
                    "session_key": [key] * n, "driver_number": drv,
                    "broadcast_name": [f"D DRIVER{d}" for d in drv],
                    "full_name": [f"Driver Number{d}" for d in drv],
                    "team_name": [TEAMS[i % len(TEAMS)] for i in team_idx],
                    "country_code": ["NED" if d % 2 else "GBR" for d in drv],
                    "team_colour": [f"{d:06x}" for d in drv],
                    "name_acronym": [f"D{d:02d}" for d in drv],
                }, [("session_key", pa.int64()), ("driver_number", pa.int32()),
                    ("broadcast_name", pa.string()), ("full_name", pa.string()),
                    ("team_name", pa.string()), ("country_code", pa.string()),
                    ("team_colour", pa.string()), ("name_acronym", pa.string())])
                if not is_race:
                    continue

                ld = np.repeat(drv, n_laps)
                lap = np.tile(np.arange(1, n_laps + 1, dtype=np.int32), n_drivers)
                t = 80.0 + np.repeat(pos, n_laps) * 0.3 + rng.normal(0.0, 0.4, ld.size)
                s1, s2, s3 = np.round(t * 0.3, 3), np.round(t * 0.33, 3), np.round(t * 0.37, 3)
                lap_dur = np.round(t, 3)
                null_lap = rng.random(ld.size) < 0.03  # sector-sum fallback
                s2_null = np.zeros(ld.size, dtype=bool)
                s2_null[rng.integers(0, ld.size)] = True  # NULL sector => NULL lap time
                null_lap |= s2_null
                gp.laps += int(ld.size)
                gp.bronze_bytes += _write(root, "laps", gp, st, {
                    "session_key": np.full(ld.size, key, dtype=np.int64), "driver_number": ld,
                    "lap_number": lap, "lap_duration": pa.array(lap_dur, mask=null_lap),
                    "duration_sector_1": s1, "duration_sector_2": pa.array(s2, mask=s2_null),
                    "duration_sector_3": s3,
                }, [("session_key", pa.int64()), ("driver_number", pa.int32()),
                    ("lap_number", pa.int32()), ("lap_duration", pa.float64()),
                    ("duration_sector_1", pa.float64()), ("duration_sector_2", pa.float64()),
                    ("duration_sector_3", pa.float64())])

                n_stops = 2
                pd_ = 21000.0 + rng.integers(0, 14000, n_drivers * n_stops).astype(np.float64)
                pit_null = np.zeros(pd_.size, dtype=bool)
                pit_null[0] = True
                pd_[1] = 0.0
                gp.pit_valid += int(pd_.size) - 2
                gp.bronze_bytes += _write(root, "pit", gp, st, {
                    "session_key": np.full(pd_.size, key, dtype=np.int64),
                    "driver_number": np.repeat(drv, n_stops),
                    "lap_number": (10 + np.tile(np.arange(n_stops), n_drivers) * 12
                                   + np.repeat(drv, n_stops) % 5).astype(np.int32),
                    "pit_duration": pa.array(pd_, mask=pit_null),
                }, [("session_key", pa.int64()), ("driver_number", pa.int32()),
                    ("lap_number", pa.int32()), ("pit_duration", pa.float64())])
    return out


ENDPOINTS = ("session_result", "drivers", "laps", "pit")


def gp_partitions(root: str, gp: GrandPrix) -> list[str]:
    """Every bronze partition directory one Grand Prix landing consists of."""
    out = []
    for ep in ENDPOINTS:
        d = os.path.join(root, ep, f"year={gp.year}", f"grand_prix={gp.slug}")
        if os.path.isdir(d):
            out.append(d)
    return out


def move_gp(src_root: str, dst_root: str, gp: GrandPrix) -> None:
    """Land (or hold back) one Grand Prix by moving its partition dirs."""
    for d in gp_partitions(src_root, gp):
        rel = os.path.relpath(d, src_root)
        target = os.path.join(dst_root, rel)
        if os.path.exists(target):
            raise FileExistsError(f"{target} already landed")
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.move(d, target)

"""Seeded generator of USGS-shaped GeoJSON days, plus the values the
pipeline must produce from them.

The pipeline sees only the files: FDSN FeatureCollections, one per day or
per month, with the fields the USGS feed carries. The data has:

- Gutenberg-Richter magnitudes (b = 1 above M2.5);
- ~80% of epicentres drawn inside the tectonic boxes (overlaps included);
- ~1% null magnitudes and ~1% null depths, a few negative depths and a
  few out-of-range coordinates, which silver validation drops;
- from the second day on, revisions of earlier ``event_id``s (same time and
  place, new magnitude and status) and late events stamped before the day
  starts.

Expected values follow the pipeline's current semantics, which this
module models and does not judge:

- bronze dedup keeps the latest ``ingestion_ts`` per event; versions of one
  event ingested in the same batch tie, and any of them may win;
- silver takes only bronze rows whose event time is past the silver
  watermark, so a revision or late event that arrives in a later batch but
  is stamped at or before the watermark never reaches silver.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

# The reference's tectonic boxes (code, min_lon, max_lon, min_lat, max_lat,
# priority), kept here as the specification the output is checked against.
REGIONS = [
    ("CALIFORNIA", -125.0, -114.0, 32.0, 42.0, 1),
    ("ALASKA", -180.0, -130.0, 50.0, 72.0, 2),
    ("JAPAN", 128.0, 148.0, 30.0, 46.0, 3),
    ("INDONESIA", 95.0, 140.0, -11.0, 6.0, 4),
    ("CHILE", -76.0, -66.0, -56.0, -17.0, 5),
    ("PHILIPPINES", 116.0, 128.0, 5.0, 20.0, 6),
    ("MEXICO", -118.0, -86.0, 14.0, 33.0, 7),
    ("MEDITERRANEAN", -10.0, 40.0, 30.0, 46.0, 8),
    ("HIMALAYA", 70.0, 100.0, 25.0, 40.0, 9),
    ("CARIBBEAN", -90.0, -60.0, 10.0, 25.0, 10),
    ("NEW_ZEALAND", 165.0, 180.0, -50.0, -34.0, 11),
]
REGION_WEIGHTS = [22, 18, 14, 12, 6, 6, 8, 5, 4, 3, 2]

NETS = ["us", "ci", "nc", "ak", "hv", "nn", "uw", "pr"]
MAG_TYPES = ["ml", "md", "mb", "mww", "mwr"]
START = datetime(2024, 1, 1, tzinfo=timezone.utc)

# Fractions of a day's events.
P_IN_BOX = 0.80
P_NULL_MAG = 0.012
P_NULL_DEPTH = 0.012
P_BAD_COORD = 0.003
P_LATE = 0.02
P_REVISION = 0.05


def region_of(lon: float, lat: float) -> str:
    """Highest-priority box containing the point (inclusive edges)."""
    best = None
    for code, x0, x1, y0, y1, prio in REGIONS:
        if x0 <= lon <= x1 and y0 <= lat <= y1 and (best is None or prio < best[1]):
            best = (code, prio)
    return best[0] if best else "OTHER"


@dataclass
class Event:
    """One version of an event as silver would see it."""

    event_id: str
    time_ms: int
    lon: float
    lat: float
    depth: float | None
    mag: float | None

    @property
    def valid(self) -> bool:
        return -90 <= self.lat <= 90 and -180 <= self.lon <= 180

    @property
    def magnitude(self) -> float:
        return 2.5 if self.mag is None else self.mag

    @property
    def depth_km(self) -> float:
        d = 33.0 if self.depth is None else self.depth
        return min(max(d, 0.0), 700.0)

    def silver_row(self) -> dict:
        """The enrichment columns silver must carry for this version."""
        m, d = self.magnitude, self.depth_km
        return {
            "tectonic_region": region_of(self.lon, self.lat),
            "magnitude": m,
            "depth_km": d,
            "event_time_ms": self.time_ms,
            "risk_level": ("CRITICAL" if m >= 7 else "HIGH" if m >= 6 else "MODERATE"
                           if m >= 5 else "LOW" if m >= 4 else "MINIMAL"),
            "depth_category": "DEEP" if d >= 300 else "INTERMEDIATE" if d >= 70 else "SHALLOW",
            "tsunami_potential": m >= 7.0 and d < 70,
            "energy_joules": 10.0 ** (1.5 * m + 4.8),
        }


@dataclass
class Day:
    index: int
    features: list[dict] = field(default_factory=list)
    events: list[Event] = field(default_factory=list)  # versions, file order
    new: int = 0  # events[:new] are first versions, the rest revisions


def _gr_magnitude(rng: random.Random) -> float:
    return round(min(9.1, 2.5 - math.log10(1.0 - rng.random())), 2)


def _feature(ev: Event, rng: random.Random, *, status: str, updated_ms: int) -> dict:
    net = ev.event_id[:2]
    props = {
        "mag": ev.mag,
        "place": f"{rng.randint(1, 120)} km {rng.choice(['N', 'NE', 'SW', 'ESE'])} of Site {rng.randint(1, 999)}",
        "time": ev.time_ms,
        "updated": updated_ms,
        "tz": None,
        "url": f"https://earthquake.usgs.gov/earthquakes/eventpage/{ev.event_id}",
        "detail": f"https://earthquake.usgs.gov/fdsnws/event/1/query?eventid={ev.event_id}&format=geojson",
        "felt": rng.choice([None, None, None, rng.randint(1, 200)]),
        "cdi": None,
        "mmi": None,
        "alert": None,
        "status": status,
        "tsunami": 0,
        "sig": rng.randint(0, 900),
        "net": net,
        "code": ev.event_id[2:],
        "ids": f",{ev.event_id},",
        "sources": f",{net},",
        "types": ",origin,phase-data,",
        "nst": rng.choice([None, rng.randint(3, 150)]),
        "dmin": round(rng.uniform(0.0, 5.0), 4),
        "rms": round(rng.uniform(0.05, 1.5), 2),
        "gap": round(rng.uniform(20.0, 300.0), 1),
        "magType": rng.choice(MAG_TYPES),
        "type": rng.choices(["earthquake", "quarry blast", "explosion"], [97, 2, 1])[0],
        "horizontalError": round(rng.uniform(0.1, 10.0), 2),
        "depthError": round(rng.uniform(0.1, 5.0), 2),
        "magError": round(rng.uniform(0.01, 0.3), 3),
        "magNst": rng.randint(0, 60),
        "locationSource": net,
        "magSource": net,
        "title": f"M {ev.mag} - event {ev.event_id}",
    }
    coords = [ev.lon, ev.lat] if ev.depth is None else [ev.lon, ev.lat, ev.depth]
    return {"type": "Feature", "properties": props,
            "geometry": {"type": "Point", "coordinates": coords}, "id": ev.event_id}


def generate(seed: int, days: int, per_day: int) -> list[Day]:
    """``days`` consecutive days from START, ``per_day`` new events each.
    Counts are fixed, so the seed changes values, not sizes."""
    rng = random.Random(seed)
    out: list[Day] = []
    history: list[Event] = []  # first versions of every valid event so far
    for d in range(days):
        day = Day(d)
        day_ms = int((START + timedelta(days=d)).timestamp() * 1000)
        n = day.new = per_day
        late = set(rng.sample(range(n), round(n * P_LATE))) if d else set()
        for i in range(n):
            eid = f"{rng.choice(NETS)}{seed % 1000:03d}{d:04d}{i:04d}"
            if i in late:
                t = day_ms - rng.randint(3_600_000, 2 * 86_400_000)
            else:
                t = day_ms + rng.randint(0, 86_399_999)
            if rng.random() < P_BAD_COORD:
                lon = round(rng.uniform(-180, 180), 4)
                lat = round(rng.choice([-1, 1]) * rng.uniform(90.5, 99.0), 4)
            elif rng.random() < P_IN_BOX:
                _c, x0, x1, y0, y1, _p = rng.choices(REGIONS, REGION_WEIGHTS)[0]
                lon, lat = round(rng.uniform(x0, x1), 4), round(rng.uniform(y0, y1), 4)
            else:
                lon, lat = round(rng.uniform(-180, 180), 4), round(rng.uniform(-70, 70), 4)
            r = rng.random()
            if r < P_NULL_DEPTH:
                depth = None
            elif r < 0.03:
                depth = round(-rng.uniform(0.0, 2.0), 2)
            elif r < 0.10:
                depth = round(rng.uniform(70.0, 720.0), 2)
            else:
                depth = round(rng.expovariate(1 / 15.0), 2)
            mag = None if rng.random() < P_NULL_MAG else _gr_magnitude(rng)
            ev = Event(eid, t, lon, lat, depth, mag)
            day.events.append(ev)
            day.features.append(_feature(ev, rng, status="automatic", updated_ms=t + 60_000))
        # revisions: same event, new magnitude, reviewed status
        recent = history[-30 * per_day:]
        for _ in range(round(n * P_REVISION) if recent else 0):
            old = rng.choice(recent)
            base = old.magnitude
            mag = round(min(9.1, max(1.0, base + rng.choice([-0.3, -0.2, -0.1, 0.1, 0.2]))), 2)
            ev = Event(old.event_id, old.time_ms, old.lon, old.lat, old.depth, mag)
            day.events.append(ev)
            day.features.append(_feature(ev, rng, status="reviewed", updated_ms=day_ms + rng.randint(0, 86_399_999)))
        history.extend(e for e in day.events[:n] if e.valid)
        out.append(day)
    return out


def write_files(days: list[Day], directory: str, *, monthly: bool = False) -> list[str]:
    """One FeatureCollection per day (``YYYY-MM-DD.geojson``) or, with
    ``monthly``, per calendar month (``YYYY-MM.geojson``), as an FDSN query
    returns them. Returns the paths in order."""
    os.makedirs(directory, exist_ok=True)
    groups: dict[str, list[dict]] = {}
    for day in days:
        date = START + timedelta(days=day.index)
        key = date.strftime("%Y-%m" if monthly else "%Y-%m-%d")
        groups.setdefault(key, []).extend(day.features)
    paths = []
    for key, features in groups.items():
        path = os.path.join(directory, f"{key}.geojson")
        doc = {"type": "FeatureCollection",
               "metadata": {"generated": 0, "title": "USGS Earthquakes", "status": 200,
                            "api": "1.14.1", "count": len(features)},
               "features": features}
        with open(path, "w") as f:
            f.write(json.dumps(doc, separators=(",", ":")))
        paths.append(path)
    return paths


# -- expected values ---------------------------------------------------------


@dataclass
class Expected:
    """What silver holds after a run, up to same-batch ties.

    ``fixed`` maps event_id → the one version silver must hold; ``tied``
    maps event_id → the versions any of which it may hold."""

    fixed: dict[str, Event]
    tied: dict[str, list[Event]]
    merged_in: dict[str, int]  # event_id → index of the batch that merged it
    watermark_ms: int
    increment: int  # rows the last silver run merged

    @property
    def silver_count(self) -> int:
        return len(self.fixed) + len(self.tied)


def silver_after(batches: list[list[Day]]) -> Expected:
    """Model bronze dedup + watermark silver over ``batches`` run in order,
    each batch being one pipeline run over those days' files."""
    fixed: dict[str, Event] = {}
    tied: dict[str, list[Event]] = {}
    merged_in: dict[str, int] = {}
    wm = None
    increment = 0
    for b, batch in enumerate(batches):
        versions: dict[str, list[Event]] = {}
        for day in batch:
            for ev in day.events:
                versions.setdefault(ev.event_id, []).append(ev)
        # silver reads all of bronze past the watermark; an event already
        # in silver from an earlier batch with a later time cannot exist
        # here, because revisions keep their original time
        incoming = {}
        for eid, vs in versions.items():
            vs = [v for v in vs if wm is None or v.time_ms > wm]
            vs = [v for v in vs if v.valid]
            if vs:
                incoming[eid] = vs
        increment = len(incoming)
        if incoming:
            wm = max(v.time_ms for vs in incoming.values() for v in vs)
        for eid, vs in incoming.items():
            distinct = {(v.mag, v.depth) for v in vs}
            fixed.pop(eid, None)
            tied.pop(eid, None)
            merged_in[eid] = b
            if len(distinct) == 1:
                fixed[eid] = vs[0]
            else:
                tied[eid] = vs
    return Expected(fixed, tied, merged_in, wm, increment)


def expected_kpi(silver: list[Event], clock: datetime) -> dict:
    """``gold_kpi_summary`` over the given silver versions. Float values
    that sit within rounding noise of a half-way point come back as a
    pair of acceptable values."""
    mags = [e.magnitude for e in silver]
    depths = [e.depth_km for e in silver]
    n = len(silver)

    def rounded(exact: Decimal, places: int):
        q = Decimal(1).scaleb(-places)
        lo = (exact - Decimal("1e-9")).quantize(q, rounding=ROUND_HALF_UP)
        hi = (exact + Decimal("1e-9")).quantize(q, rounding=ROUND_HALF_UP)
        return {float(lo), float(hi)}

    msum = sum(Decimal(repr(m)) for m in mags)
    dsum = sum(Decimal(repr(d)) for d in depths)
    to_dt = lambda ms: datetime.fromtimestamp(ms / 1000, tz=timezone.utc).replace(tzinfo=None)  # noqa: E731
    return {
        "total_earthquakes": n,
        "avg_magnitude": rounded(msum / n, 2),
        "max_magnitude": max(mags),
        "min_magnitude": min(mags),
        "active_regions": len({region_of(e.lon, e.lat) for e in silver}),
        "critical_events": sum(m >= 7.0 for m in mags),
        "high_risk_events": sum(6.0 <= m < 7.0 for m in mags),
        "tsunami_events": sum(e.magnitude >= 7.0 and e.depth_km < 70 for e in silver),
        "total_energy_joules": math.fsum(10.0 ** (1.5 * m + 4.8) for m in mags),
        "avg_depth_km": rounded(dsum / n, 1),
        "data_start": to_dt(min(e.time_ms for e in silver)),
        "data_end": to_dt(max(e.time_ms for e in silver)),
        "refresh_ts": clock.replace(tzinfo=None),
    }

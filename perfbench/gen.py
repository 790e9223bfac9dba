"""Seeded input generators with ground truth.

Two generators, both pure Python (no Spark), both driven only by the
benchmark seed so that the same seed always yields the same bytes and
every seed yields the same sizes:

* ``WeatherFeed`` lands days of OpenWeatherMap-shaped JSON lines with
  planted dirt (within-hour re-fetches, dirty city/country strings, null
  and out-of-range readings, corrupt lines) and re-delivered readings of
  the previous day with changed measures. For each day it also returns
  the counts the engine must report: rows in, survivors, inserts and
  updates.
* ``DocFeed`` produces a bootstrap corpus and merge batches with planted
  exact copies, in-batch repeats, one-token-edit near duplicates and
  verbatim passages lifted from store documents, labelled per document.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Weather payload days
# ---------------------------------------------------------------------------

BASE_DATE = dt.date(2024, 5, 20)  # 14 bootstrap days cross Spring -> Summer
HOURS = 24
COUNTRIES = [
    "GB", "US", "JP", "FR", "AU", "DE", "RU", "CN", "IN", "EG",
    "BR", "CA", "MX", "ES", "IT", "NL", "SE", "NO", "PL", "TR",
    "ZA", "NG", "KE", "AR", "CL", "PE", "KR", "TH", "VN", "ID",
]
_SYLLABLES = [
    "ka", "lo", "mar", "ven", "tis", "bra", "dun", "el", "ost", "ri",
    "sa", "gor", "nel", "pa", "qui", "ron", "sel", "tam", "u", "vor",
    "wen", "yar", "zel", "ber", "cas", "dor", "fen", "hal", "ist", "jun",
]
# Plant rates, as shares of the day's city-hours (disjoint sets).
REFETCH, DIRTY, NULLED, OUT_OF_RANGE, CLIPPED = 0.04, 0.05, 0.01, 0.01, 0.01
REDELIVER = 0.05  # share of the previous day's survivors sent again


@dataclass
class City:
    name: str
    country: str
    lat: float
    lon: float
    base_temp: float


@dataclass
class DayTruth:
    """What the engine must report for one landed batch."""

    rows_in: int  # parseable payloads (run_pipeline's total_records_input)
    survivors: int  # rows that reach the upsert (total_records_output)
    inserted: int
    updated: int
    lines: int  # landed lines, corrupt ones included


@dataclass
class _Day:
    lines: list[str]
    survivors: list[tuple[str, str, int]] = field(default_factory=list)
    truth: DayTruth | None = None


def _city_names(rng: random.Random, n: int) -> list[str]:
    names: set[str] = set()
    out = []
    while len(out) < n:
        word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        name = word.capitalize()
        if rng.random() < 0.15:
            name += " " + "".join(
                rng.choice(_SYLLABLES) for _ in range(2)
            ).capitalize()
        if name not in names:
            names.add(name)
            out.append(name)
    return out


class WeatherFeed:
    """Day ``d`` is ``BASE_DATE + d``. Day 0 and the bootstrap days carry
    no re-deliveries (there is no previous load to correct); every later
    day re-sends ``REDELIVER`` of the previous day's survivors."""

    def __init__(self, seed: int, n_cities: int):
        self.seed = seed
        rng = random.Random(f"wx-cities:{seed}")
        self.cities = [
            City(
                name=name,
                country=rng.choice(COUNTRIES),
                lat=round(rng.uniform(-60, 70), 4),
                lon=round(rng.uniform(-180, 180), 4),
                base_temp=rng.uniform(-5, 28),
            )
            for name in _city_names(rng, n_cities)
        ]
        self.n_countries = len({c.country for c in self.cities})
        self._cache: dict[tuple[int, bool], _Day] = {}

    # -- one day ----------------------------------------------------------
    def _payload(self, city: City, ts: int, rng: random.Random, hour: int) -> dict:
        diurnal = -6 * ((hour - 14) / 12) ** 2  # warmest mid-afternoon
        temp = round(city.base_temp + diurnal + rng.gauss(0, 1.5), 2)
        return {
            "coord": {"lon": city.lon, "lat": city.lat},
            "weather": [
                {"id": 800, "main": "Clear", "description": rng.choice(
                    ["clear sky", "few clouds", "light rain", "overcast clouds", "mist"]
                ), "icon": "01d"}
            ],
            "main": {
                "temp": temp,
                "feels_like": round(temp - rng.uniform(0, 3), 2),
                "temp_min": temp - 1,
                "temp_max": temp + 1,
                "pressure": rng.randint(985, 1035),
                "humidity": rng.randint(20, 98),
            },
            "visibility": rng.choice([10000, 10000, 10000, 8000, 6000]),
            "wind": {"speed": round(rng.uniform(0, 14), 2), "deg": rng.randint(0, 359)},
            "clouds": {"all": rng.randint(0, 100)},
            "dt": ts,
            "sys": {"type": 1, "id": 1, "country": city.country,
                    "sunrise": ts - 20000, "sunset": ts + 20000},
            "timezone": 0,
            "id": 1,
            "name": city.name,
            "cod": 200,
        }

    def _day(self, d: int, redeliver: bool) -> _Day:
        key = (d, redeliver)
        if key in self._cache:
            return self._cache[key]
        rng = random.Random(f"wx-day:{self.seed}:{d}")
        day0 = dt.datetime.combine(BASE_DATE + dt.timedelta(days=d), dt.time())
        epoch0 = int(day0.replace(tzinfo=dt.timezone.utc).timestamp())
        slots = [(c, h) for c in range(len(self.cities)) for h in range(HOURS)]
        n = len(slots)
        order = list(range(n))
        rng.shuffle(order)
        cuts = [int(n * r) for r in (REFETCH, DIRTY, NULLED, OUT_OF_RANGE, CLIPPED)]
        plant: dict[int, str] = {}
        pos = 0
        for kind, k in zip(("refetch", "dirty", "null", "oor", "clip"), cuts):
            for i in order[pos:pos + k]:
                plant[i] = kind
            pos += k
        lines: list[str] = []
        survivors: list[tuple[str, str, int]] = []
        dropped = refetches = 0
        for i, (ci, h) in enumerate(slots):
            city = self.cities[ci]
            minute = rng.randint(0, 39)
            ts = epoch0 + h * 3600 + minute * 60 + rng.randint(0, 59)
            p = self._payload(city, ts, rng, h)
            kind = plant.get(i)
            if kind == "refetch":
                again = self._payload(city, ts + rng.randint(300, 1000), rng, h)
                lines.append(json.dumps(again))
                refetches += 1
            elif kind == "dirty":
                p["name"] = rng.choice(
                    [f"  {city.name.lower()} ", city.name.upper(), f"{city.name}  "]
                )
                p["sys"]["country"] = rng.choice(
                    [city.country.lower(), f" {city.country}", f"{city.country} "]
                )
            elif kind == "null":
                p["main"]["temp"] = None
                dropped += 1
            elif kind == "oor":
                which = rng.randrange(3)
                if which == 0:
                    p["main"]["temp"] = 999.0
                elif which == 1:
                    p["main"]["pressure"] = 700
                else:
                    p["coord"]["lat"] = 200.0
                dropped += 1
            elif kind == "clip":
                p["main"]["humidity"] = 130  # clipped to 100, survives
            if kind not in ("null", "oor"):
                survivors.append((city.name, city.country, ts))
            lines.append(json.dumps(p))
        updated = 0
        if redeliver and d > 0:
            # the previous day's base rows do not depend on its own
            # re-deliveries, so its plain form gives the same survivors
            prev = self._day(d - 1, redeliver=False).survivors
            prng = random.Random(f"wx-redeliver:{self.seed}:{d}")
            by_name = {c.name: c for c in self.cities}
            for name, country, ts in prng.sample(prev, int(len(prev) * REDELIVER)):
                p = self._payload(by_name[name], ts, prng, (ts - epoch0) // 3600 % 24)
                lines.append(json.dumps(p))
                updated += 1
        lines += [  # unparseable, or missing an identity field
            '{"coord": {"lon": 1.0, "lat": 2.0}, "main": {"temp": 3.0',
            "not json at all",
            json.dumps({"main": {"temp": 10.0}, "sys": {"country": "GB"}, "dt": epoch0}),
            json.dumps({"name": "Nowhere", "sys": {"country": "XX"}}),
        ]
        rng.shuffle(lines)
        inserted = n - dropped
        truth = DayTruth(
            rows_in=n + refetches + updated,
            survivors=inserted + updated,
            inserted=inserted,
            updated=updated,
            lines=len(lines),
        )
        out = _Day(lines=lines, survivors=survivors, truth=truth)
        self._cache[key] = out
        if len(self._cache) > 4:  # only the previous day is ever re-read
            self._cache.pop(next(iter(self._cache)))
        return out

    def day_bytes(self, d: int) -> tuple[bytes, DayTruth]:
        """One incremental day (with re-deliveries of day ``d - 1``)."""
        day = self._day(d, redeliver=True)
        return ("\n".join(day.lines) + "\n").encode(), day.truth

    def backfill_bytes(self, days: int) -> tuple[bytes, DayTruth]:
        """Days ``0 .. days-1`` in one landed batch, no re-deliveries —
        the first load of a fresh warehouse."""
        parts, rows_in, surv, lines = [], 0, 0, 0
        for d in range(days):
            day = self._day(d, redeliver=False)
            parts.append("\n".join(day.lines) + "\n")
            rows_in += day.truth.rows_in
            surv += day.truth.survivors
            lines += day.truth.lines
        truth = DayTruth(rows_in=rows_in, survivors=surv, inserted=surv, updated=0, lines=lines)
        return "".join(parts).encode(), truth


# ---------------------------------------------------------------------------
# Document batches
# ---------------------------------------------------------------------------

DOC_TOKENS = (80, 120)
PASSAGE_TOKENS = 30  # verbatim run lifted from a store doc (>> 16 grams)
# Planted share of each batch, by kind (the rest is fresh).
DOC_PLANTS = {"exact": 0.05, "repeat": 0.05, "near": 0.05, "passage": 0.05}
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class DocBatch:
    rows: list[tuple[int, str]]  # (doc_id, text)
    kind: dict[int, str]  # doc_id -> fresh | exact | repeat | near | passage

    def ids(self, kind: str) -> set[int]:
        return {i for i, k in self.kind.items() if k == kind}


class DocFeed:
    """Bootstrap store docs get ids ``1..n_store``; batch ``b`` gets ids
    from ``10_000_000 + b * 100_000`` (globally unique, as the merge
    requires). Plants copy only bootstrap docs, which stay in the store
    for the whole run."""

    def __init__(self, seed: int, n_store: int, batch_size: int):
        self.seed = seed
        self.n_store = n_store
        self.batch_size = batch_size
        vrng = random.Random(f"doc-vocab:{seed}")
        vocab: set[str] = set()
        while len(vocab) < 30000:
            vocab.add("".join(vrng.choice(_LETTERS) for _ in range(vrng.randint(4, 9))))
        self.vocab = sorted(vocab)
        vrng.shuffle(self.vocab)
        self._store_tokens = [
            self._fresh_tokens(random.Random(f"doc-store:{seed}:{i}"))
            for i in range(1, n_store + 1)
        ]

    def _fresh_tokens(self, rng: random.Random) -> list[str]:
        return [rng.choice(self.vocab) for _ in range(rng.randint(*DOC_TOKENS))]

    def store_rows(self) -> list[tuple[int, str]]:
        return [(i + 1, " ".join(t)) for i, t in enumerate(self._store_tokens)]

    def batch(self, b: int) -> DocBatch:
        rng = random.Random(f"doc-batch:{self.seed}:{b}")
        n = self.batch_size
        counts = {k: int(n * r) for k, r in DOC_PLANTS.items()}
        n_fresh = n - sum(counts.values())
        sources = rng.sample(
            range(self.n_store), counts["exact"] + counts["near"] + counts["passage"]
        )
        texts: list[tuple[str, str]] = []
        fresh = [" ".join(self._fresh_tokens(rng)) for _ in range(n_fresh)]
        texts += [("fresh", t) for t in fresh]
        src = iter(sources)
        for _ in range(counts["exact"]):
            texts.append(("exact", " ".join(self._store_tokens[next(src)])))
        for _ in range(counts["near"]):
            orig = self._store_tokens[next(src)]
            toks = list(orig)
            j = rng.randrange(len(toks))
            while toks[j] == orig[j]:
                toks[j] = rng.choice(self.vocab)
            texts.append(("near", " ".join(toks)))
        for _ in range(counts["passage"]):
            toks = self._store_tokens[next(src)]
            start = rng.randrange(len(toks) - PASSAGE_TOKENS + 1)
            lifted = toks[start:start + PASSAGE_TOKENS]
            pad = self._fresh_tokens(rng)
            cut = len(pad) // 2
            texts.append(("passage", " ".join(pad[:cut] + lifted + pad[cut:])))
        # In-batch repeats copy fresh docs; they must get LARGER ids than
        # their originals, so they are numbered after every other doc.
        repeats = [("repeat", t) for t in rng.sample(fresh, counts["repeat"])]
        rng.shuffle(texts)
        base = 10_000_000 + b * 100_000
        rows, kind = [], {}
        for i, (k, t) in enumerate(texts + repeats):
            rows.append((base + i, t))
            kind[base + i] = k
        return DocBatch(rows=rows, kind=kind)

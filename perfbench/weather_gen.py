"""Seeded WeatherAPI ``forecast.json`` documents for the ETL workloads.

One document per (city, run_date), shaped like the real API response
(``location`` / ``current`` / ``forecast.forecastday[3]`` with 24 hours
each), over the reference fleet of ten cities.  Every value is drawn
from a ``random.Random`` keyed by a string that names what the value
depends on, so the same seed always yields byte-identical documents
and no value depends on generation order.

Two delivery models:

- ``daily_docs``: the forecast for a date is republished every day, so a
  date delivered on two consecutive run dates carries different values
  on each (the later delivery must win in the warehouse).
- ``history_docs``: an archive backfill, where every delivery of a date
  within one revision carries the same values; ``revision`` > 0 models
  a correction feed that re-delivers the same keys with new values.
"""

from __future__ import annotations

import datetime as dt
import json
import random

# (name, code, region, country, lat, lon) — names and codes match the
# program's CITY_CODES table, the reference's ten-city fleet.
CITIES = [
    ("New Delhi", "DEL", "Delhi", "India", 28.6, 77.2),
    ("Bangalore", "BAN", "Karnataka", "India", 12.98, 77.58),
    ("Chennai", "CHE", "Tamil Nadu", "India", 13.08, 80.28),
    ("Pune", "PUN", "Maharashtra", "India", 18.53, 73.87),
    ("Mumbai", "MUM", "Maharashtra", "India", 18.98, 72.83),
    ("Hyderabad", "HYD", "Andhra Pradesh", "India", 17.38, 78.47),
    ("Jaipur", "JAI", "Rajasthan", "India", 26.92, 75.82),
    ("Kochi", "KOC", "Kerala", "India", 9.97, 76.23),
    ("Kolkata", "KOL", "West Bengal", "India", 22.57, 88.37),
    ("Ahmedabad", "ADB", "Gujarat", "India", 23.03, 72.62),
]

# WeatherAPI condition codes with their fixed texts; 1000 reads "Clear"
# at night and "Sunny" by day, which the warehouse normalises to 'Sunny'.
CONDITIONS = [
    (1000, "Clear"),
    (1000, "Sunny"),
    (1003, "Partly cloudy"),
    (1006, "Cloudy"),
    (1009, "Overcast"),
    (1030, "Mist"),
    (1063, "Patchy rain possible"),
    (1087, "Thundery outbreaks possible"),
    (1183, "Light rain"),
    (1195, "Heavy rain"),
]

WIND_DIRS = ["N", "NNE", "NE", "E", "SE", "S", "SW", "W", "NW"]

BASE_DATE = dt.date(2024, 1, 1)


def _rng(*parts) -> random.Random:
    return random.Random("|".join(str(p) for p in parts))


def _r1(r: random.Random, lo: float, hi: float) -> float:
    return round(r.uniform(lo, hi), 1)


def _condition(r: random.Random) -> dict:
    code, text = CONDITIONS[r.randrange(len(CONDITIONS))]
    return {"code": code, "text": text}


def _clock(r: random.Random, hour_lo: int, hour_hi: int, suffix: str) -> str:
    return f"{r.randint(hour_lo, hour_hi):02d}:{r.randint(0, 59):02d} {suffix}"


def _hour(r: random.Random, date: str, h: int) -> dict:
    rain = r.randint(0, 1)
    return {
        "time": f"{date} {h:02d}:00",
        "temp_c": _r1(r, 12.0, 42.0),
        "is_day": 1 if 6 <= h < 18 else 0,
        "wind_kph": _r1(r, 0.0, 40.0),
        "wind_dir": WIND_DIRS[r.randrange(len(WIND_DIRS))],
        "pressure_mb": float(r.randint(990, 1025)),
        "precip_mm": _r1(r, 0.0, 12.0) if rain else 0.0,
        "humidity": r.randint(10, 100),
        "cloud": r.randint(0, 100),
        "dewpoint_c": _r1(r, -2.0, 28.0),
        "gust_kph": _r1(r, 0.0, 60.0),
        "will_it_rain": rain,
        "chance_of_rain": r.randint(0, 100),
        "will_it_snow": 0,
        "chance_of_snow": 0,
        "snow_cm": 0.0,
        "uv": float(r.randint(0, 11)),
        "condition": _condition(r),
    }


def _forecastday(r: random.Random, date: str) -> dict:
    lo = _r1(r, 8.0, 26.0)
    hi = round(lo + _r1(r, 4.0, 16.0), 1)
    rain = r.randint(0, 1)
    return {
        "date": date,
        "day": {
            "maxtemp_c": hi,
            "avgtemp_c": round((lo + hi) / 2, 1),
            "mintemp_c": lo,
            "maxwind_kph": _r1(r, 2.0, 45.0),
            "totalprecip_mm": _r1(r, 0.0, 60.0) if rain else 0.0,
            "totalsnow_cm": 0.0,
            "avghumidity": float(r.randint(15, 100)),
            "daily_will_it_rain": rain,
            "daily_chance_of_rain": r.randint(0, 100),
            "daily_will_it_snow": 0,
            "daily_chance_of_snow": 0,
            "uv": float(r.randint(1, 11)),
            "condition": _condition(r),
        },
        "astro": {
            "sunrise": _clock(r, 5, 6, "AM"),
            "sunset": _clock(r, 5, 7, "PM"),
            "moonrise": _clock(r, 1, 11, "PM"),
            "moonset": _clock(r, 1, 11, "AM"),
        },
        "hour": [_hour(r, date, h) for h in range(24)],
    }


def doc(seed: int, city: int, run_date: dt.date, version: str) -> dict:
    """The document fetched for ``CITIES[city]`` on ``run_date``.

    ``version`` names the forecast version: forecast-day values are
    keyed by (city, date, version), so two deliveries of one date agree
    exactly when they share a version."""
    name, _code, region, country, lat, lon = CITIES[city]
    cur = _rng(seed, "current", name, run_date, version)
    days = []
    for d in range(3):
        date = (run_date + dt.timedelta(days=d)).isoformat()
        days.append(_forecastday(_rng(seed, "day", name, date, version), date))
    return {
        "location": {
            "name": name,
            "region": region,
            "country": country,
            "lat": lat,
            "lon": lon,
        },
        "current": {
            "last_updated": f"{run_date.isoformat()} {cur.randint(0, 23):02d}:"
            f"{cur.choice((0, 15, 30, 45)):02d}",
            "temp_c": _r1(cur, 12.0, 42.0),
            "is_day": cur.randint(0, 1),
            "wind_kph": _r1(cur, 0.0, 40.0),
            "wind_dir": WIND_DIRS[cur.randrange(len(WIND_DIRS))],
            "pressure_mb": float(cur.randint(990, 1025)),
            "precip_mm": _r1(cur, 0.0, 5.0),
            "humidity": cur.randint(10, 100),
            "cloud": cur.randint(0, 100),
            "dewpoint_c": _r1(cur, -2.0, 28.0),
            "gust_kph": _r1(cur, 0.0, 60.0),
            "condition": _condition(cur),
        },
        "forecast": {"forecastday": days},
    }


def run_date(day: int) -> dt.date:
    return BASE_DATE + dt.timedelta(days=day)


def daily_docs(seed: int, day: int) -> list[dict]:
    """One day's extraction: every city, forecast republished that day."""
    date = run_date(day)
    return [doc(seed, c, date, version=date.isoformat()) for c in range(len(CITIES))]


def history_docs(seed: int, days: int, revision: int = 0) -> list[dict]:
    """``days`` consecutive run dates of archive history (all cities)."""
    return [
        doc(seed, c, run_date(day), version=f"rev{revision}")
        for day in range(days)
        for c in range(len(CITIES))
    ]


def payloads(docs: list[dict]) -> dict[str, str]:
    """city name -> JSON body, as the REST fetcher returns it."""
    return {d["location"]["name"]: json.dumps(d) for d in docs}

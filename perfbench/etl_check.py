"""The warehouse the ETL should produce, computed in plain Python.

``delivery_rows`` applies the reference's transform rules to generated
documents with no Spark involved:

- forecast-day positions {1, 2} and hour positions {0, 10, 20};
- condition code 1000 is named 'Sunny'; one name per code per load;
- rows with a NULL key (a city outside the fleet) are dropped;
- surrogate keys ``{LOC}_{yyyyMMdd}`` and ``{LOC}_{yyyyMMdd}_{hour}``;
- current humidity comes from ``current.humidity`` (the program's
  documented correction of the reference's copy of ``cloud``).

``Warehouse`` replays loads key by key, latest delivery winning, and
``compare`` diffs that state against the parquet tables on disk.
"""

from __future__ import annotations

import datetime as dt
import os

from weather_gen import CITIES

CODE = {name: code for name, code, *_ in CITIES}
DAY_POSITIONS = (1, 2)
HOUR_POSITIONS = (0, 10, 20)

KEYS = {
    "location": "location_id",
    "condition": "condition_code",
    "current_weather": "current_weather_id",
    "forecast_day_weather": "forecast_day_weather_id",
    "forecast_hour_weather": "forecast_hour_weather_id",
}
TABLES = tuple(KEYS)


def _ymd(date: str) -> str:
    return date.replace("-", "")


def _key(*parts):
    return None if any(p is None for p in parts) else "_".join(str(p) for p in parts)


def doc_rows(doc: dict) -> dict[str, list[dict]]:
    loc_name = doc["location"]["name"]
    loc = CODE.get(loc_name)
    cur = doc["current"]
    cur_date = cur["last_updated"][:10]
    out = {t: [] for t in TABLES}
    out["location"].append({
        "location_id": loc,
        "name": loc_name,
        "region": doc["location"]["region"],
        "country": doc["location"]["country"],
        "latitude": doc["location"]["lat"],
        "longitude": doc["location"]["lon"],
    })
    out["current_weather"].append({
        "current_weather_id": _key(loc, _ymd(cur_date)),
        "location_id": loc,
        "condition_code": cur["condition"]["code"],
        "temperature_c": cur["temp_c"],
        "is_day": cur["is_day"],
        "wind_kph": cur["wind_kph"],
        "wind_dir": cur["wind_dir"],
        "pressure_mb": cur["pressure_mb"],
        "precip_mm": cur["precip_mm"],
        "humidity": cur["humidity"],
        "cloud": cur["cloud"],
        "dewpoint_c": cur["dewpoint_c"],
        "gust_kph": cur["gust_kph"],
        "weather_date": cur_date,
    })
    conditions = [cur["condition"]]
    for pos, fd in enumerate(doc["forecast"]["forecastday"]):
        if pos not in DAY_POSITIONS:
            continue
        day, astro = fd["day"], fd["astro"]
        day_key = _key(loc, _ymd(fd["date"]))
        conditions.append(day["condition"])
        out["forecast_day_weather"].append({
            "forecast_day_weather_id": day_key,
            "location_id": loc,
            "condition_code": day["condition"]["code"],
            "forecast_date": fd["date"],
            "max_temp_c": day["maxtemp_c"],
            "avg_temp_c": day["avgtemp_c"],
            "min_temp_c": day["mintemp_c"],
            "max_wind_kph": day["maxwind_kph"],
            "total_precip_mm": day["totalprecip_mm"],
            "total_snow_cm": day["totalsnow_cm"],
            "avg_humidity": day["avghumidity"],
            "daily_will_it_rain": day["daily_will_it_rain"],
            "daily_chance_of_rain": day["daily_chance_of_rain"],
            "daily_will_it_snow": day["daily_will_it_snow"],
            "daily_chance_of_snow": day["daily_chance_of_snow"],
            "uv": day["uv"],
            "sunrise_time": astro["sunrise"],
            "sunset_time": astro["sunset"],
            "moonrise_time": astro["moonrise"],
            "moonset_time": astro["moonset"],
        })
        for hpos, h in enumerate(fd["hour"]):
            if hpos not in HOUR_POSITIONS:
                continue
            conditions.append(h["condition"])
            out["forecast_hour_weather"].append({
                "forecast_hour_weather_id": _key(day_key, hpos),
                "forecast_day_weather_id": day_key,
                "location_id": loc,
                "condition_code": h["condition"]["code"],
                "forecast_datetime": h["time"] + ":00",
                "temp_c": h["temp_c"],
                "is_day": h["is_day"],
                "wind_kph": h["wind_kph"],
                "wind_dir": h["wind_dir"],
                "pressure_mb": h["pressure_mb"],
                "precip_mm": h["precip_mm"],
                "humidity": h["humidity"],
                "cloud": h["cloud"],
                "dewpoint_c": h["dewpoint_c"],
                "gust_kph": h["gust_kph"],
                "will_it_rain": h["will_it_rain"],
                "chance_of_rain": h["chance_of_rain"],
                "will_it_snow": h["will_it_snow"],
                "chance_of_snow": h["chance_of_snow"],
                "snow_cm": h["snow_cm"],
                "uv": h["uv"],
                "forecast_date": fd["date"],
            })
    for c in conditions:
        name = "Sunny" if c["code"] == 1000 else c["text"]
        out["condition"].append({"condition_code": c["code"], "condition_name": name})
    return out


def delivery_rows(docs: list[dict]) -> dict[str, dict]:
    """One load's rows per table, keyed by primary key.  A key delivered
    twice within one load must carry identical rows, except conditions,
    which keep the smallest name per code."""
    out: dict[str, dict] = {t: {} for t in TABLES}
    for doc in docs:
        for table, rows in doc_rows(doc).items():
            key_col = KEYS[table]
            for row in rows:
                k = row[key_col]
                if k is None:
                    continue
                prev = out[table].get(k)
                if table == "condition":
                    if prev is None or row["condition_name"] < prev["condition_name"]:
                        out[table][k] = row
                elif prev is not None and prev != row:
                    raise ValueError(f"{table}: key {k} delivered twice with different rows")
                else:
                    out[table][k] = row
    return out


class Warehouse:
    """Expected warehouse state: per table, key -> row."""

    def __init__(self):
        self.tables: dict[str, dict] = {t: {} for t in TABLES}

    def apply(self, delivery: dict[str, dict], tables) -> None:
        for t in tables:
            self.tables[t].update(delivery[t])


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, int) and not isinstance(v, bool):
        return ("i", v)
    return v


def _norm_row(row: dict) -> dict:
    return {k: _norm(v) for k, v in row.items()}


def read_table(path: str) -> list[dict]:
    """A warehouse table as row dicts, partition columns included."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def compare(expected: dict, rows: list[dict], key_col: str) -> list[str]:
    """Differences between expected rows (key -> row) and the table's
    rows; an empty list means they match."""
    diffs = []
    got: dict = {}
    for r in rows:
        k = r[key_col]
        if k in got:
            diffs.append(f"duplicate key {k!r}")
        got[k] = _norm_row(r)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        diffs.append(f"{len(missing)} missing keys, e.g. {sorted(missing)[:3]}")
    if extra:
        diffs.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    for k in sorted(expected.keys() & got.keys()):
        want = _norm_row(expected[k])
        if want != got[k]:
            cols = sorted(c for c in want.keys() | got[k].keys() if want.get(c) != got[k].get(c))
            diffs.append(
                f"key {k!r}: columns {cols} differ "
                f"(want {[want.get(c) for c in cols]}, got {[got[k].get(c) for c in cols]})"
            )
            if len(diffs) > 5:
                break
    return diffs


def check_warehouse(wh: Warehouse, warehouse_dir: str, tables) -> dict[str, list[str]]:
    """Diff every table in ``tables`` against the expected state."""
    out = {}
    for t in tables:
        diffs = compare(wh.tables[t], read_table(os.path.join(warehouse_dir, t)), KEYS[t])
        if diffs:
            out[t] = diffs
    return out

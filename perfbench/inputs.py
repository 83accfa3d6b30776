"""Seeded input generators for the benchmark workloads.

Every value is a pure function of ``(seed, ...)`` through a keyed hash,
so the same seed gives byte-identical inputs in any process, including
the Spark Python workers that call :class:`SeededFetcher`. The program
under test only ever sees what these functions produce.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path
from urllib.parse import parse_qs, urlsplit

from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import GEO_POINTS
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import fixtures
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources.rest import (
    TRAFFIC_URL,
    WEATHER_URL,
)

DATA_TYPES = ("weather", "traffic")
API_KEYS = {"traffic": "bench", "weather": "bench"}
ERROR_SHARE = 0.02  # URLs that answer non-200 on every call
MALFORMED_SHARE = 0.01  # URLs that answer 200 with a payload flatten drops
# First hour of the tick_stream history; landed ticks follow it hourly.
HISTORY_START = datetime(2026, 1, 1, tzinfo=timezone.utc)


def unit(seed: int, *parts: object) -> float:
    """A uniform value in [0, 1) keyed by ``seed`` and ``parts``."""
    key = "|".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big") / 2**64


def geo_points(seed: int, n: int) -> list[tuple[int, str, str, str]]:
    """``n`` unique (geo_key, geo_name, lat, lon) points around Copenhagen."""
    rng = random.Random(seed)
    seen: set[tuple[str, str]] = set()
    points = []
    while len(points) < n:
        lat = f"{rng.uniform(55.60, 55.75):.6f}"
        lon = f"{rng.uniform(12.45, 12.65):.6f}"
        if (lat, lon) in seen:
            continue
        seen.add((lat, lon))
        points.append((len(points) + 1, f"point-{len(points) + 1:05d}", lat, lon))
    return points


def url_for(data_type: str, lat: str, lon: str) -> str:
    template = TRAFFIC_URL if data_type == "traffic" else WEATHER_URL
    return template.format(lat=lat, lon=lon, api_key=API_KEYS[data_type])


def url_class(seed: int, url: str) -> str:
    """``error``, ``malformed`` or ``ok``: fixed per URL for a seed."""
    u = unit(seed, "class", url)
    if u < ERROR_SHARE:
        return "error"
    if u < ERROR_SHARE + MALFORMED_SHARE:
        return "malformed"
    return "ok"


def traffic_doc(u: float, lat: float, lon: float) -> dict:
    return fixtures.tomtom_doc(
        current_speed=20 + int(u * 40),
        free_flow_speed=50 + int(u * 20),
        confidence=round(0.5 + u / 2, 4),
        coords=[(lat, lon), (lat + 0.0004, lon + 0.0006), (lat + 0.001, lon + 0.0013)],
    )


def weather_doc(u: float) -> dict:
    return fixtures.openweather_doc(temp_k=round(265.0 + u * 30, 2))


def payload(seed: int, data_type: str, lat: str, lon: str, *salt: object) -> str:
    u = unit(seed, "value", data_type, lat, lon, *salt)
    if data_type == "traffic":
        return json.dumps(traffic_doc(u, float(lat), float(lon)))
    return json.dumps(weather_doc(u))


class SeededFetcher:
    """The injected HTTP client for ``tick_fetch``.

    Each call sleeps ``sleep_s`` (the stand-in for a network round trip),
    then answers per URL class. When accumulators are given, it counts
    calls, busy seconds and non-200 answers through them, so the counts
    come back from the Python workers to the benchmark process.
    """

    def __init__(self, seed: int, sleep_s: float, calls=None, busy=None, errors=None):
        self.seed = seed
        self.sleep_s = sleep_s
        self.calls, self.busy, self.errors = calls, busy, errors

    def __call__(self, url: str) -> tuple[int, str]:
        t0 = time.perf_counter()
        time.sleep(self.sleep_s)
        cls = url_class(self.seed, url)
        data_type = "traffic" if "tomtom" in url else "weather"
        if cls == "error":
            status, body = 503, ""
        elif cls == "malformed":
            status = 200
            body = (
                fixtures.MALFORMED_TRAFFIC
                if data_type == "traffic"
                else fixtures.EMPTY_WEATHER_ARRAY
            )
        else:
            query = parse_qs(urlsplit(url).query)
            if data_type == "traffic":
                lat, lon = query["point"][0].split(",")
            else:
                lat, lon = query["lat"][0], query["lon"][0]
            status, body = 200, payload(self.seed, data_type, lat, lon)
        if self.calls is not None:
            self.calls.add(1)
            self.busy.add(time.perf_counter() - t0)
            if status != 200:
                self.errors.add(1)
        return status, body


def fetch_expectation(seed: int, points: list[tuple[int, str, str, str]]) -> dict:
    """What one ``tick_fetch`` tick must produce over ``points`` x 2 APIs."""
    ok = {dt: set() for dt in DATA_TYPES}
    counts = {"error": 0, "malformed": 0, "ok": 0}
    for _, name, lat, lon in points:
        for dt in DATA_TYPES:
            cls = url_class(seed, url_for(dt, lat, lon))
            counts[cls] += 1
            if cls == "ok":
                ok[dt].add((name, f"{lat},{lon}"))
    return {
        "endpoints": 2 * len(points),
        "fetch_ok_rows": counts["ok"] + counts["malformed"],
        "errors": counts["error"],
        "traffic": len(ok["traffic"]),
        "weather": len(ok["weather"]),
        "quarantined": 0,
        "snapshot": ok["traffic"] & ok["weather"],
    }


def tick_stamp(tick: int) -> datetime:
    """Event time of tick ``tick``; tick 0 is the first hour of history."""
    return HISTORY_START + timedelta(hours=tick)


def stream_records(seed: int, tick: int) -> list[dict]:
    """One landed fetch-result file: the 20 GEO_POINTS x 2 APIs. Exactly
    one record, at a place the seed picks, has a NULL geo_name (1 of 40,
    ~2 %), so quarantine fires on every tick and every tick does the same
    work."""
    fetched_at = tick_stamp(tick).strftime("%Y-%m-%dT%H:%M:%S.000Z")
    null_at = int(unit(seed, "meta", tick) * len(GEO_POINTS) * len(DATA_TYPES))
    recs = []
    for geo_key, geo_name, lat, lon in GEO_POINTS:
        for dt in DATA_TYPES:
            null_meta = len(recs) == null_at
            recs.append(
                {
                    "geo_key": geo_key,
                    "geo_name": None if null_meta else geo_name,
                    "lat": lat,
                    "lon": lon,
                    "data_type": dt,
                    "status_code": 200,
                    "payload": payload(seed, dt, lat, lon, tick),
                    "error": None,
                    "fetched_at": fetched_at,
                }
            )
    return recs


def stream_expectation(records: list[dict]) -> dict:
    """What ingesting ``records`` must add to each table, and the snapshot."""
    good = {dt: set() for dt in DATA_TYPES}
    bad = {dt: 0 for dt in DATA_TYPES}
    for r in records:
        if r["geo_name"] is None:
            bad[r["data_type"]] += 1
        else:
            good[r["data_type"]].add((r["geo_name"], f"{r['lat']},{r['lon']}"))
    return {
        "traffic": len(good["traffic"]),
        "weather": len(good["weather"]),
        "quarantined": bad["traffic"] + bad["weather"],
        "snapshot": good["traffic"] & good["weather"],
    }


def write_history(root: Path, ticks: int) -> None:
    """``ticks`` hourly ticks of clean traffic and weather rows for the 20
    GEO_POINTS, one parquet file per tick per table under ``date=``
    partitions, as ``append_table(..., partition_by=["date"])`` leaves
    them. The history does not depend on the seed, so it is built once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import (
        TRAFFIC_SCHEMA,
        WEATHER_SCHEMA,
    )

    arrow = {"string": pa.string(), "bigint": pa.int64(), "double": pa.float64(), "boolean": pa.bool_()}
    n = len(GEO_POINTS)
    for table, spark_schema in (("traffic_table", TRAFFIC_SCHEMA), ("weather_table", WEATHER_SCHEMA)):
        fields = [f for f in spark_schema.fields if f.name != "date"]
        schema = pa.schema([(f.name, arrow[f.dataType.simpleString()]) for f in fields])
        for tick in range(ticks):
            ts = tick_stamp(tick)
            row = {}
            for i, (_, name, lat, lon) in enumerate(GEO_POINTS):
                u = ((tick * 31 + i * 17) % 97) / 97
                doc = {
                    "time": ts.strftime("%H:%M"),
                    "geo_name": name,
                    "latitude": lat,
                    "longitude": lon,
                    "original_coordinates": f"{lat},{lon}",
                    "first_coordinates": f"{lat},{lon}",
                    "last_coordinates": f"{lat},{lon}",
                    "road_class": "FRC2",
                    "current_speed": 20 + int(u * 40),
                    "free_flow_speed": 60,
                    "current_travel_time": 120,
                    "free_flow_travel_time": 100,
                    "confidence": 0.9,
                    "road_closure": False,
                    "country": "DK",
                    "city_area_name": "Copenhagen",
                    "weather_main": "Clouds",
                    "weather_description": "scattered clouds",
                    "temperature": round(u * 20 - 5, 2),
                    "feels_like": round(u * 20 - 6, 2),
                    "temp_min": round(u * 20 - 7, 2),
                    "temp_max": round(u * 20 - 3, 2),
                    "pressure": 1012,
                    "humidity_percent": 76,
                    "visibility": 10000,
                    "wind_speed": 5.1,
                    "wind_direction_degrees": 240,
                    "cloudiness_percent": 40,
                }
                for f in fields:
                    row.setdefault(f.name, [None] * n)[i] = doc[f.name]
            out = root / table / f"date={ts:%Y-%m-%d}"
            out.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table(row, schema=schema), out / f"part-{tick:05d}.snappy.parquet")

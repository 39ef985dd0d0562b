"""GBFS source — payload parsing and ingest composition (SURVEY.md
§2.1 S1-S6; reference etl_gbfs.py).

Spark-first split of responsibilities:
- feed DISCOVERY and URL selection are driver-side config resolution
  (tiny JSON, not data-plane) — same shape-tolerance as the reference:
  flat `data.feeds` or nested `data.<lang>.feeds`, language preference
  "" > en > pt > pt-BR > first match (etl_gbfs.py:25-39,44-55).
- payload -> DataFrame uses explicit StructTypes (never inferSchema:
  GBFS fields come and go per provider) with Spark-native types:
  rental_methods stays ArrayType (the reference flattens to CSV at
  etl_gbfs.py:104 — that is a SQLite-compat concern, array_join at the
  boundary if needed), booleans are BooleanType, epochs become
  timestamps.
- sinks: stations merge-upsert keyed on station_id (S4), status
  date-partitioned append stamped once per batch (S5,
  etl_gbfs.py:119).

HTTP fetching is injectable (`fetch_fn`) — the engine never hard-codes
a network dependency; at scale the raw JSON lands in object storage
and `spark.read.json(schema=...)` replaces the driver fetch.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import STATION_STATUS, STATIONS
from . import sinks

LANG_ORDER = ["", "en", "pt", "pt-BR"]

# Public BikePoA GBFS auto-discovery endpoint (reference config.py:4)
DEFAULT_AUTO_DISCOVERY_URL = "https://poa.publicbikesystem.net/ube/gbfs/v1/"


def _utc_naive(epoch_s: int) -> _dt.datetime:
    """Epoch seconds -> naive UTC datetime (Spark TimestampType rows
    are session-zone-naive; the sessions here pin UTC). The tz-aware
    route replaces the deprecated ``datetime.utcfromtimestamp``
    (removal slated post-3.12) with identical output."""
    return _dt.datetime.fromtimestamp(epoch_s, tz=_dt.timezone.utc).replace(
        tzinfo=None
    )


def discover_feeds(auto: dict[str, Any]) -> list[dict[str, Any]]:
    """Extract the feed list, tolerating flat and per-language shapes
    (reference etl_gbfs.py:44-55)."""
    feeds = auto.get("data", {}).get("feeds", [])
    if not feeds:
        for lang_key in ["en", "pt", "pt-BR"]:
            lang_data = auto.get("data", {}).get(lang_key, {})
            if "feeds" in lang_data:
                feeds = lang_data["feeds"]
                break
    if not feeds:
        raise RuntimeError("no feeds found in GBFS auto-discovery payload")
    return feeds


def pick_feed_url(feeds: list[dict[str, Any]], feed_name: str) -> str | None:
    """Language-preference feed selection (reference etl_gbfs.py:25-39)."""
    by_lang: dict[str, list[str]] = {}
    for f in feeds:
        if f.get("name") == feed_name:
            by_lang.setdefault(f.get("language", ""), []).append(f["url"])
    for lang in LANG_ORDER:
        if lang in by_lang:
            return by_lang[lang][0]
    for f in feeds:
        if f.get("name") == feed_name:
            return f["url"]
    return None


def station_rows(si: dict[str, Any]) -> list[tuple]:
    """station_information payload -> typed row tuples (STATIONS
    order). Pure function shared by the driver-side `stations_df`
    path and the executor-side `gbfs` DataSource scan — parity
    between the two read paths holds by construction."""
    stations = si.get("data", {}).get("stations", [])
    last_updated = si.get("last_updated")
    return [
        (
            st.get("station_id"),
            st.get("name"),
            st.get("lat"),
            st.get("lon"),
            st.get("capacity"),
            st.get("address"),
            list(st.get("rental_methods") or []) or None,
            bool(st.get("is_virtual_station"))
            if st.get("is_virtual_station") is not None
            else None,
            st.get("external_id"),
            st.get("short_name"),
            st.get("region_id"),
            _utc_naive(last_updated)
            if last_updated is not None
            else None,
        )
        for st in stations
    ]


def stations_df(spark: SparkSession, si: dict[str, Any]) -> DataFrame:
    """station_information payload -> typed stations frame, feed-level
    last_updated stamped onto every row (reference etl_gbfs.py:109)."""
    return spark.createDataFrame(station_rows(si), STATIONS)


def status_rows(
    ss: dict[str, Any], scraped_at: _dt.datetime
) -> list[tuple]:
    """station_status payload -> typed row tuples (STATION_STATUS
    order); shared by `status_df` and the `gbfs` DataSource scan."""
    stations = ss.get("data", {}).get("stations", [])
    return [
        (
            st.get("station_id"),
            st.get("num_bikes_available"),
            st.get("num_bikes_disabled"),
            st.get("num_docks_available"),
            st.get("num_docks_disabled"),
            _maybe_bool(st.get("is_installed")),
            _maybe_bool(st.get("is_renting")),
            _maybe_bool(st.get("is_returning")),
            _utc_naive(st["last_reported"])
            if st.get("last_reported") is not None
            else None,
            scraped_at,
            [
                (v.get("vehicle_type_id"), v.get("count"))
                for v in st["vehicle_types_available"]
            ]
            if "vehicle_types_available" in st
            else None,
        )
        for st in stations
    ]


def status_df(
    spark: SparkSession, ss: dict[str, Any], scraped_at: _dt.datetime
) -> DataFrame:
    """station_status payload -> typed status frame; scraped_at is
    stamped ONCE per batch (reference etl_gbfs.py:119), vehicles stay
    a typed array-of-struct (JSON only at a compat boundary)."""
    return spark.createDataFrame(
        status_rows(ss, scraped_at), STATION_STATUS
    )


def payload_rows(payload: dict[str, Any], feed: str) -> list[tuple]:
    """Feed-dispatched row building for a LANDED snapshot payload —
    the one shared entry point for every snapshot consumer (the
    `gbfs` DataSource's batch scan and streaming tail both call it),
    so the two read paths cannot drift from each other or from the
    live-poll builders above. For status feeds the batch stamp is the
    snapshot's own feed-level last_updated — the honest landed-file
    equivalent of the live poll's wall clock."""
    if feed == "station_information":
        return station_rows(payload)
    lu = payload.get("last_updated")
    scraped = _utc_naive(lu) if lu is not None else None
    return status_rows(payload, scraped)


def _maybe_bool(v):
    return bool(v) if v is not None else None


def fetch_via_http(url: str | None = None) -> tuple[dict, dict]:
    """Default fetcher: auto-discovery -> feed selection -> both feeds.
    Import-gated on `requests`; tests inject fixture payloads instead.
    """
    import requests

    auto = requests.get(url or DEFAULT_AUTO_DISCOVERY_URL, timeout=30)
    auto.raise_for_status()
    feeds = discover_feeds(auto.json())
    si_url = pick_feed_url(feeds, "station_information")
    ss_url = pick_feed_url(feeds, "station_status")
    if not si_url or not ss_url:
        raise RuntimeError("station_information/station_status feeds missing")
    return (
        requests.get(si_url, timeout=30).json(),
        requests.get(ss_url, timeout=30).json(),
    )


def ingest_once(
    spark: SparkSession,
    warehouse: str,
    fetch_fn: Callable[[], tuple[dict, dict]] = fetch_via_http,
    now: _dt.datetime | None = None,
) -> dict[str, int]:
    """S6 composite: fetch -> stations upsert -> status append
    (reference etl_gbfs.py:157-161), returning the same counters."""
    import os

    si, ss = fetch_fn()
    scraped_at = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    st = stations_df(spark, si)
    n_stations = sinks.merge_upsert(
        spark,
        st,
        os.path.join(warehouse, "stations.parquet"),
        ["station_id"],
        "last_updated",
    )
    status = status_df(spark, ss, scraped_at)
    n_status = status.count()
    sinks.append_partitioned(
        status, os.path.join(warehouse, "station_status.parquet"), "scraped_at"
    )
    return {"stations_upserted": n_stations, "status_rows": n_status}

"""Correctness checks for the benchmark's outputs, independent of Spark.

* ``Oracle`` runs a registry query's ``ORACLE_SQL`` through DuckDB over the
  generated tables and compares an order-insensitive, exact digest (float
  bits included) with the engine's frame.
* ``pit_replay`` and ``OnlineReplay`` re-derive the feature rows from the
  raw events in pandas/numpy and replay the as-of join and the
  latest-per-key online store, so every ``get_historical_features`` and
  ``get_online_features`` answer can be checked, NULLs for unknown keys and
  TTL masking included.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

# EPA PM2.5 breakpoints (bp_lo, bp_hi, i_lo, i_hi); values in the gaps
# between intervals and above the table get the offline job's 8.5 default.
AQI_BREAKPOINTS = (
    (0.0, 12.0, 0, 50),
    (12.1, 35.4, 51, 100),
    (35.5, 55.4, 101, 150),
    (55.5, 150.4, 151, 200),
    (150.5, 250.4, 201, 300),
    (250.5, 350.4, 301, 400),
    (350.5, 500.4, 401, 500),
)
AQI_DEFAULT = 8.5


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "null"
        # integral floats read as ints: a NULL-able int column arrives as
        # float64 from pandas on one side and as int on the other
        return repr(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if isinstance(v, np.integer):
        return repr(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return repr([_canon(x) for x in v])
    if isinstance(v, dict):
        return repr({k: _canon(x) for k, x in sorted(v.items())})
    return repr(v)


def digest(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha1 of the sorted canonical rows, columns by name)."""
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(_canon(v) for v in row)
        for row in df[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha1("\n".join([",".join(cols), *rows]).encode())
    return len(rows), h.hexdigest()


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.sql("SET threads = 2")
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name)
                self.con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")

    def digest(self, sql: str) -> tuple[int, str]:
        return digest(self.con.sql(sql).fetchdf())


# ---------------------------------------------------------------------------
# Feature-store replays
# ---------------------------------------------------------------------------


def derive_features(events: pd.DataFrame) -> pd.DataFrame:
    """pandas re-derivation of the offline feature rows from raw events."""
    v = events["value"].to_numpy(dtype=float)
    aqi = np.full(len(v), np.nan)
    for lo, hi, i_lo, i_hi in reversed(AQI_BREAKPOINTS):
        m = (v >= lo) & (v <= hi)
        aqi[m] = ((i_hi - i_lo) / (hi - lo)) * (v[m] - lo) + float(i_lo)
    aqi[np.isnan(aqi)] = AQI_DEFAULT
    ts = pd.to_datetime(events["ts"])
    return pd.DataFrame(
        {
            "entity_id": events["user_id"].astype(str),
            "feature_timestamp": ts,
            "value": v,
            "aqi": aqi,
            "hour": ts.dt.hour.astype("int32"),
            "day": ts.dt.day.astype("int32"),
            "dayOfWeek": ((ts.dt.dayofweek + 1) % 7 + 1).astype("int32"),
            "event_id": events["event_id"].astype("int64"),
        }
    )


def pit_replay(
    spine: pd.DataFrame, feats: pd.DataFrame, cols: list[str], ttl: pd.Timedelta
) -> pd.DataFrame:
    """As-of join: per spine row the latest feature row of its entity with
    ``ts <= event_ts`` and ``ts >= event_ts - ttl`` (ties broken by the
    larger ``event_id``); no match gives NULL features."""
    f = feats.sort_values(["feature_timestamp", "event_id"], kind="stable")
    f = f.assign(feature_timestamp=f["feature_timestamp"].astype("datetime64[ns]"))
    s = spine.reset_index(drop=True).assign(
        __row=lambda d: np.arange(len(d)),
        event_timestamp=lambda d: d["event_timestamp"].astype("datetime64[ns]"),
    )
    m = pd.merge_asof(
        s.sort_values("event_timestamp", kind="stable"),
        f[["entity_id", "feature_timestamp", *cols]],
        left_on="event_timestamp",
        right_on="feature_timestamp",
        by="entity_id",
        direction="backward",
        tolerance=ttl,
        allow_exact_matches=True,
    )
    m = m.sort_values("__row").reset_index(drop=True)
    return m[[*spine.columns, *cols]]


class OnlineReplay:
    """Latest-per-key online store over the batches ingested so far."""

    def __init__(self, cols: list[str]) -> None:
        self.cols = cols
        self.latest = pd.DataFrame(columns=["entity_id", "feature_timestamp", *cols])

    def upsert(self, rows: pd.DataFrame) -> None:
        both = pd.concat([self.latest, rows[self.latest.columns]], ignore_index=True)
        both["__prec"] = np.arange(len(both))
        both = both.sort_values(["feature_timestamp", "__prec"], kind="stable")
        self.latest = both.groupby("entity_id", sort=False).tail(1).drop(columns="__prec")

    def lookup(self, keys: list[str], as_of: pd.Timestamp, ttl: pd.Timedelta) -> pd.DataFrame:
        req = pd.DataFrame({"entity_id": keys})
        out = req.merge(self.latest, on="entity_id", how="left")
        live = out["feature_timestamp"] >= as_of - ttl
        for c in ["feature_timestamp", *self.cols]:
            out[c] = out[c].where(live, None)
        return out

"""Seeded input generators for the benchmark.

Two kinds of input, both written under a directory the caller owns:

* ``write_star_tables`` writes the ten parquet tables the query registry
  reads (``region`` .. ``embeddings``) with the column names, types and
  value ranges of the repository's synthetic test tables, scaled by ``sf``
  (``lineitem`` has 6,000,000 x sf rows).
* ``write_raw_hour`` writes one hour of OpenAQ-shaped NDJSON measurements in
  the ``schemas.RAW_MEASUREMENT`` schema into an hourly raw-zone layout
  (``YYYY/MM/DD/HH/raw_<hour>.json``). ``RawZonePlan`` fixes the locations,
  their uneven reporting rates and pollutant sets from a seed, and keeps the
  distinct (location, hour) keys it has emitted so the benchmark can check
  row counts without reading the engine's output.

The raw rows carry the defects the ingest path must handle: re-extraction
duplicates (same location, datetime and parameter, a later ``extracted_at``),
``PM2.5`` spellings that normalize to ``pm25``, and unparseable datetimes.

Everything is a pure function of the seed: the same seed writes the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "shiny"]
_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "pipe", "valve", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int) + 1
    return (start + rng.integers(0, span, n)).astype("datetime64[ns]")


def star_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The ten registry tables as DataFrames, ``sf`` scaling the row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(n_cust // 10, 10)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype="int32")
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": (nk % 5).astype("int32"),
        }
    )
    ck = np.arange(n_cust, dtype="int64")
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype="int64")
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n_ord, dtype="int64")
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": (t0 + offs.astype("timedelta64[us]")).astype("datetime64[ns]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents: 5% near copies of an earlier document with a
    ``dup`` token appended, and a few exact copies, so the dedup and
    similarity queries find real clusters."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pd.DataFrame:
    """Unit vectors scattered around ``k`` labelled centres."""
    centres = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    v = centres[labels] + rng.normal(scale=1.2, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(v.astype("float32")),
            "label": labels.astype("int32"),
        }
    )


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the registry tables as ``<out_dir>/<table>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in star_tables(sf, seed).items():
        # Microsecond timestamps, as in the test tables: Spark reads them as
        # timestamps (nanoseconds would surface as longs).
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            coerce_timestamps="us",
        )
        counts[name] = len(df)
    return counts


# ---------------------------------------------------------------------------
# OpenAQ-shaped raw zone
# ---------------------------------------------------------------------------

POLLUTANTS = ("pm25", "pm10", "no2", "so2", "o3", "co")
_RANGES = {
    "pm25": (3.0, 180.0),
    "pm10": (8.0, 260.0),
    "no2": (2.0, 120.0),
    "so2": (1.0, 60.0),
    "o3": (5.0, 200.0),
    "co": (100.0, 3000.0),
}
# Locations whose null city the engine fills from its static override map.
_OVERRIDE_IDS = (3276359, 2161296, 225719, 2161290)
_CITIES = ["Hanoi", "Ho Chi Minh City", "Da Nang", "Hai Phong", "Can Tho", "Hue"]
_BAD_DATETIMES = ("", "n/a", "2024-13-45T99:00:00+07:00", "yesterday")
DUP_SHARE = 0.03
BAD_SHARE = 0.01
SPELLING_SHARE = 0.3


@dataclass
class RawZonePlan:
    """A seeded raw zone: ``n_locations`` stations, each reporting a fixed
    pollutant subset with probability ``rate`` in any hour.

    ``write_hour`` returns, with each file, the distinct (location_id, utc
    hour) pairs among its valid rows: the union over the files a reader
    consumed is exactly the row set the marts table must hold.
    """

    seed: int
    n_locations: int = 200
    start: dt.datetime = dt.datetime(2024, 1, 1)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        extra = self.n_locations - len(_OVERRIDE_IDS)
        ids = list(_OVERRIDE_IDS) + sorted(
            int(x) for x in rng.choice(np.arange(10_000, 99_999), extra, replace=False)
        )
        self.locations = []
        for i, loc in enumerate(ids):
            k = int(rng.integers(2, len(POLLUTANTS) + 1))
            params = sorted(rng.choice(len(POLLUTANTS), k, replace=False).tolist())
            city = None if loc in _OVERRIDE_IDS or rng.random() < 0.05 else (
                _CITIES[i % len(_CITIES)]
            )
            self.locations.append(
                {
                    "id": loc,
                    "rate": float(rng.uniform(0.35, 1.0)),
                    "params": [POLLUTANTS[p] for p in params],
                    "sensor0": loc * 10,
                    "name": f"Station {loc}",
                    "city": city,
                    "country": "VN" if rng.random() < 0.9 else "TH",
                    "lat": round(float(rng.uniform(8.5, 23.0)), 5),
                    "lon": round(float(rng.uniform(102.0, 109.5)), 5),
                }
            )

    def hour_at(self, i: int) -> dt.datetime:
        return self.start + dt.timedelta(hours=i)

    def hour_lines(self, i: int) -> tuple[list[str], set]:
        """NDJSON lines for UTC hour ``i`` (0 = ``start``), including
        re-extractions of hour ``i - 1``, and their valid keys."""
        rng = np.random.default_rng([self.seed, i])
        hour = self.hour_at(i)
        lines: list[str] = []
        keys: set = set()
        for loc in self.locations:
            if rng.random() >= loc["rate"]:
                continue
            for j, p in enumerate(loc["params"]):
                when = hour
                if rng.random() < DUP_SHARE and i > 0:
                    when = hour - dt.timedelta(hours=1)  # late re-extraction
                bad = rng.random() < BAD_SHARE
                lines.append(self._line(rng, loc, j, p, when, bad))
                if not bad:
                    keys.add((loc["id"], when))
                if rng.random() < DUP_SHARE:  # re-extraction inside the batch
                    lines.append(self._line(rng, loc, j, p, when, bad))
        return lines, keys

    def _line(self, rng, loc, j, param, when, bad) -> str:
        lo, hi = _RANGES[param]
        local = when + dt.timedelta(hours=7)
        stamp = (
            _BAD_DATETIMES[int(rng.integers(0, len(_BAD_DATETIMES)))]
            if bad
            else local.strftime("%Y-%m-%dT%H:%M:%S+07:00")
        )
        spelled = "PM2.5" if param == "pm25" and rng.random() < SPELLING_SHARE else param
        extracted = when + dt.timedelta(minutes=int(rng.integers(5, 300)))
        city = "null" if loc["city"] is None else f'"{loc["city"]}"'
        return (
            f'{{"sensor_id":{loc["sensor0"] + j},"datetime":"{stamp}",'
            f'"value":{rng.uniform(lo, hi):.2f},"parameter":"{spelled}",'
            f'"unit":"ug/m3","extracted_at":"{extracted.isoformat()}Z",'
            f'"location_id":{loc["id"]},"location_name":"{loc["name"]}",'
            f'"city":{city},"timezone":"Asia/Ho_Chi_Minh",'
            f'"country":"{loc["country"]}","latitude":{loc["lat"]},'
            f'"longitude":{loc["lon"]}}}'
        )

    def write_hour(
        self, zone: str, i: int, mtime: float | None = None
    ) -> tuple[str, set, int]:
        """Land hour ``i`` as one NDJSON file; returns its path, valid keys
        and row count. ``mtime`` pins the file's modification time so file
        sources see arrival order."""
        hour = self.hour_at(i)
        d = os.path.join(zone, hour.strftime("%Y/%m/%d/%H"))
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"raw_{i:05d}.json")
        lines, keys = self.hour_lines(i)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        if mtime is not None:
            os.utime(path, (mtime, mtime))
        return path, keys, len(lines)

    def write_sentinel(self, zone: str, i: int, mtime: float | None = None) -> str:
        """One valid row far past hour ``i``: it moves a stream's event-time
        watermark past every real window, so an append-mode sink emits them
        all. Its location id is outside the plan's stations and its own
        window stays open."""
        hour = self.hour_at(i) + dt.timedelta(days=2)
        d = os.path.join(zone, "sentinel")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "raw_sentinel.json")
        loc = {**self.locations[-1], "id": 1, "sensor0": 10, "city": None}
        line = self._line(np.random.default_rng(0), loc, 0, "o3", hour, False)
        with open(path, "w") as f:
            f.write(line + "\n")
        if mtime is not None:
            os.utime(path, (mtime, mtime))
        return path

"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``: the TPC-H-shaped
star schema, the ``events`` table, the document corpus and the embedding
table (same schemas and value domains as ``schemas.TESTDATA``), and the GPS
NDJSON files in the reference producer's record shape. The same seed always
gives byte-identical inputs, and the generator returns the truth the checks
compare against.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Query tables (olap-sql, llm-curation)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document minus its first word, tagged
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[1:] + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 1.0, (10, _EMB_DIM))
    v = rng.normal(0.0, 1.0, (n, _EMB_DIM)) + 0.15 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype("float32")), pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype="int64"), "embedding": emb, "label": labels}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables as one parquet file each under ``out_dir``;
    returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_l, n_docs = 4 * n_o, max(500, int(50_000 * sf))
    n_emb, n_users = max(500, int(20_000 * sf)), max(1, int(15_000 * sf))
    pkeys = np.arange(n_p, dtype="int64")
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
        "customer": {
            "c_custkey": np.arange(n_c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(_SEGMENTS, n_c),
        },
        "supplier": {
            "s_suppkey": np.arange(n_s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        },
        "part": {
            "p_partkey": pkeys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(_PTYPES, n_p),
            "p_size": rng.integers(1, 51, n_p).astype("int32"),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_o, dtype="int64"),
            "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_o) * _DAY_US),
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_o, n_l).astype("int64"),
            "l_partkey": rng.integers(0, n_p, n_l).astype("int64"),
            "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_l).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
            "l_extendedprice": rng.uniform(900.0, 105_000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_l) * _DAY_US),
        },
        "events": {
            "event_id": np.arange(n_e, dtype="int64"),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_e))),
            "user_id": rng.integers(0, n_users, n_e).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# --------------------------------------------------------------------------
# GPS NDJSON files (stream-ingest)

_DIRECTIONS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]
_BASE_TS = dt.datetime(2024, 3, 1)
_FMT = "%Y-%m-%d %H:%M:%S"
HOT_SHARE = 0.30  # share of rows carried by the one hot vehicle
LATE_SHARE = 0.03  # share of rows stamped up to three windows late
NULL_FUEL_SHARE = 0.12  # exact share of rows with NULL fuel_level
WINDOW_S = 60  # each file's own time window


@dataclass
class StreamTruth:
    """What the checks compare the engine against."""

    rows_per_file: list[int]
    per_vehicle: dict[str, tuple[int, float]]
    timestamps: list[str] = field(repr=False)  # every row's, sorted

    @property
    def rows(self) -> int:
        return sum(self.rows_per_file)

    def rows_at_version(self, v: int) -> int:
        """Rows visible at snapshot ``v`` when each micro-batch commits one
        file, in file order."""
        return sum(self.rows_per_file[:v])

    def rows_between(self, lo: str, hi: str) -> int:
        return bisect.bisect_right(self.timestamps, hi) - bisect.bisect_left(
            self.timestamps, lo
        )

    def window(self, i: int) -> tuple[str, str]:
        """The timestamp range of file ``i``'s own window."""
        a = _BASE_TS + dt.timedelta(seconds=i * WINDOW_S)
        b = a + dt.timedelta(seconds=WINDOW_S - 1)
        return a.strftime(_FMT), b.strftime(_FMT)


def write_ndjson(
    out_dir: str, seed: int, n_files: int, rows_per_file: int
) -> StreamTruth:
    """Write ``n_files`` NDJSON files, file ``i`` covering its own
    ``WINDOW_S``-second window (plus a few late rows), with increasing
    modification times so the file source reads them in order."""
    rng = np.random.default_rng([seed, 2])
    pool = [f"{v:08x}" for v in rng.integers(0x10000000, 0xFFFFFFFF, 20)]
    n = n_files * rows_per_file
    null_fuel = np.zeros(n, dtype=bool)
    null_fuel[rng.choice(n, int(round(n * NULL_FUEL_SHARE)), replace=False)] = True
    os.makedirs(out_dir, exist_ok=True)
    counts, stamps = [], []
    per_vehicle: dict[str, list] = {}
    now = int(dt.datetime.now().timestamp())
    for i in range(n_files):
        m = rows_per_file
        vid = np.where(rng.random(m) < HOT_SHARE, 0, rng.integers(1, len(pool), m))
        sec = i * WINDOW_S + rng.integers(0, WINDOW_S, m)
        late = rng.random(m) < LATE_SHARE
        sec = np.where(late, np.maximum(0, sec - rng.integers(1, 3 * WINDOW_S, m)), sec)
        speed = np.round(rng.uniform(0.0, 120.0, m), 2).tolist()
        fuel = np.round(rng.uniform(5.0, 100.0, m), 1).tolist()
        lat = np.round(rng.uniform(-90.0, 90.0, m), 6).tolist()
        lon = np.round(rng.uniform(-180.0, 180.0, m), 6).tolist()
        battery = np.round(rng.uniform(10.0, 100.0, m), 1).tolist()
        direction = rng.integers(0, 8, m).tolist()
        belt = (rng.random(m) < 0.8).tolist()
        collision = (rng.random(m) < 1 / 6).tolist()
        braking = (rng.random(m) < 1 / 4).tolist()
        lines = []
        for j in range(m):  # rows stay in generation order: out of order in time
            v = pool[vid[j]]
            ts = (_BASE_TS + dt.timedelta(seconds=int(sec[j]))).strftime(_FMT)
            rec = {
                "vehicle_id": v,
                "latitude": lat[j],
                "longitude": lon[j],
                "speed_kmh": speed[j],
                "direction": _DIRECTIONS[direction[j]],
                "fuel_level": None if null_fuel[i * m + j] else fuel[j],
                "battery_level": battery[j],
                "seat_belt_status": "Fastened" if belt[j] else "Unfastened",
                "collision_detected": collision[j],
                "sudden_braking": braking[j],
                "timestamp": ts,
            }
            lines.append(json.dumps(rec))
            acc = per_vehicle.setdefault(v, [0, 0.0])
            acc[0] += 1
            acc[1] += speed[j]
            stamps.append(ts)
        path = os.path.join(out_dir, f"gps-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        mtime = now - (n_files - i)
        os.utime(path, (mtime, mtime))
        counts.append(m)
    stamps.sort()
    return StreamTruth(
        rows_per_file=counts,
        per_vehicle={k: (c, s) for k, (c, s) in per_vehicle.items()},
        timestamps=stamps,
    )

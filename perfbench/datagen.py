"""Seeded input generation for the benchmark.

Everything the program receives is made here from ``--seed``: the same seed
gives byte-identical inputs. Two kinds of input:

* ``write_tables`` — the ten fixture tables the query registry reads
  (``etl_drone_sense_spark.schemas.TABLE_NAMES``), as one parquet file each,
  with the column types and value domains of the committed fixture
  description (TESTDATA.md, FIXTURES.md §4). Row counts scale with ``sf``
  the way the fixtures do (lineitem = 6,000,000 × sf).
* ``drone_payload`` — one DroneSense API response (a JSON-able list of
  records, reference ``task.ts:52-72``) mixing every branch of the Feature
  transform: no sensors, a first sensor without ``rtsp_url``, several rtsp
  sensors (first match wins), an rtsp sensor without ``video_url``, and
  the SPOI zero-sentinel on either axis.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days_us(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; 5% are a near-duplicate (another document plus
    one trailing token) and a few are exact copies, so every dedup operator
    has pairs to find."""
    lengths = rng.permutation(10 + np.arange(n) * 91 // n)  # 10..100 words, fixed total
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, clusters: int = 10) -> pa.Table:
    labels = rng.integers(0, clusters, n).astype(np.int32)
    centers = rng.normal(size=(clusters, dim))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": i32([k % 5 for k in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(n_part)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days_us(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days_us(rng, "1995-01-02", 2499, n_li),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": i64(np.arange(n_ev)),
            "ts": pa.array(ev_us, type=pa.timestamp("us")),
            "user_id": i64(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, min(n_doc, 2000))
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _sensor(sid: str, rtsp: bool, video: bool) -> dict:
    return {
        "id": sid,
        "name": f"cam-{sid}",
        "video_url": f"https://viewer.example/{sid}" if video else None,
        "rtsp_url": f"rtsp://video.example/{sid}" if rtsp else None,
    }


def drone_payload(rng, n: int, prefix: str) -> list[dict]:
    """One fetch response of ``n`` drone records (ids ``<prefix>-<i>``)."""
    lat = rng.uniform(-60.0, 60.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    branch = rng.integers(0, 5, n)
    spoi = rng.integers(0, 4, n)  # 0: both zero, 1: lat zero, 2: lng zero, 3: set
    d_lat = rng.uniform(-0.05, 0.05, n)
    d_lon = rng.uniform(-0.05, 0.05, n)
    out = []
    for i in range(n):
        did = f"{prefix}-{i}"
        b = branch[i]
        if b == 0:
            sensors = []
        elif b == 1:  # first sensor has no rtsp_url, the second one wins
            sensors = [_sensor(f"{did}-a", False, True), _sensor(f"{did}-b", True, True)]
        elif b == 2:  # several rtsp sensors: only the first is used
            sensors = [_sensor(f"{did}-{k}", True, True) for k in range(3)]
        elif b == 3:  # rtsp without a viewer url: link url is null
            sensors = [_sensor(f"{did}-a", True, False)]
        else:  # sensors but none streams video
            sensors = [_sensor(f"{did}-a", False, True)]
        s_lat = 0.0 if spoi[i] in (0, 1) else float(lat[i] + d_lat[i])
        s_lng = 0.0 if spoi[i] in (0, 2) else float((lon[i] + d_lon[i] + 540.0) % 360.0 - 180.0)
        out.append(
            {
                "id": did,
                "callSign": f"CS-{i % 997}",
                "missionName": f"mission-{i % 13}",
                "model": ("M300", "M30T", "Mavic 3E")[i % 3],
                "latitude": float(lat[i]),
                "longitude": float(lon[i]),
                "lastUpdate": float(1.7e9 + i),
                "altitudeAgl": float(round(20.0 + (i % 100) * 1.5, 1)),
                "altitudeMsl": float(round(220.0 + (i % 100) * 1.5, 1)),
                "speed": float(i % 23),
                "heading": float((i * 37) % 360),
                "spoiLat": s_lat,
                "spoiLng": s_lng,
                "sensors": sensors,
            }
        )
    return out

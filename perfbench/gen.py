"""Seeded input generators and their ground truth.

Everything the program reads in a benchmark run is made here from the
workload seed, and everything the benchmark checks the program's outputs
against is computed here from the generated values, never by calling the
code under test.

- ``pings_rows``/``write_pings_csv``: a vehicle-ping CSV in the reference
  layout (time, vehicle id, lat, lon; every 13th row is an 11-field wide row
  with lat/lon in fields 9/10; every 997th row is malformed), with the
  expected clean rows, distinct counts, reject counts and an
  order-insensitive digest.
- ``write_stream_files``: the source files of ``ingest_stream``, staged
  before the program starts.
- ``write_tables``: the star-schema parquet tables the query workload reads.
"""

from __future__ import annotations

import calendar
import json
import os
import time

import numpy as np

MASK64 = (1 << 64) - 1
REJECT_REASONS = ("bad_latlon", "bad_time", "bad_vehicle_id")
# 2016-06-02 00:00:00 UTC: the day the pings are stamped in.
PING_DAY = calendar.timegm((2016, 6, 2, 0, 0, 0))


# ---------------------------------------------------------------------------
# Order-insensitive digest over (vehicle_id, lat, lon, ts_millis)
# ---------------------------------------------------------------------------


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 arithmetic wraps)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def row_digest(vid, lat, lon, ts) -> int:
    """Sum of per-row hashes mod 2^64: equal for equal multisets of rows,
    whatever their order or envelope boundaries."""
    if len(vid) == 0:
        return 0
    v = np.asarray(vid, dtype=np.int64).view(np.uint64)
    a = np.asarray(lat, dtype=np.float64).view(np.uint64)
    o = np.asarray(lon, dtype=np.float64).view(np.uint64)
    t = np.asarray(ts, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = _mix(v ^ _mix(a ^ _mix(o ^ _mix(t))))
        return int(h.sum(dtype=np.uint64))


def to_int64(id_str: str) -> int:
    """Low 64 bits of a decimal id, as a signed long (BigInteger.longValue)."""
    v = int(id_str) & MASK64
    return v - (1 << 64) if v >= (1 << 63) else v


# ---------------------------------------------------------------------------
# Pings CSV
# ---------------------------------------------------------------------------


def _fmt_time(rng: np.random.Generator, kind: int, epoch_s: int) -> tuple[str, int]:
    """One timestamp string in one of the reference's accepted formats and
    its epoch millis."""
    t = time.gmtime(epoch_s)
    day = time.strftime("%Y-%m-%d", t)
    hms = time.strftime("%H:%M:%S", t)
    if kind == 0:  # no offset: UTC
        return f"{day} {hms}", epoch_s * 1000
    if kind == 1:  # explicit hour offset: the wall clock is UTC+03
        local = time.gmtime(epoch_s + 3 * 3600)
        return time.strftime("%Y-%m-%d %H:%M:%S", local) + "+03", epoch_s * 1000
    if kind == 2:  # fractional seconds then Z
        frac = f"{int(rng.integers(0, 1000)):03d}"
        ms = int(float("0." + frac) * 1000)
        return f"{day} {hms}.{frac}Z", epoch_s * 1000 + ms
    return f"{day}T{hms}Z", epoch_s * 1000  # ISO-8601


def pings_rows(seed: int, n_rows: int, n_vehicles: int, vid_base: int = 10**6):
    """Generate ``n_rows`` CSV lines plus their truth.

    Vehicle ids are ``vid_base + k`` for ``k < n_vehicles``; one vehicle in
    50 is also written zero-padded (a distinct string, the same id) and one
    row in 50 quotes its id field.
    """
    rng = np.random.default_rng(seed)
    ks = rng.integers(0, n_vehicles, n_rows)
    secs = PING_DAY + rng.integers(0, 86_400, n_rows)
    lats = np.round(rng.uniform(37.70, 37.82, n_rows), 6)
    lons = np.round(rng.uniform(-122.52, -122.36, n_rows), 6)
    kinds = rng.integers(0, 4, n_rows)
    lines: list[str] = []
    clean_vid, clean_lat, clean_lon, clean_ts = [], [], [], []
    vid_strs: set[str] = set()
    rejects = dict.fromkeys(REJECT_REASONS, 0)
    n_bad = 0
    for i in range(n_rows):
        k = int(ks[i])
        vid_str = str(vid_base + k)
        if k % 50 == 7 and i % 2:
            vid_str = "000" + vid_str
        ts_str, ts_ms = _fmt_time(rng, int(kinds[i]), int(secs[i]))
        lat, lon = float(lats[i]), float(lons[i])
        lat_s, lon_s = repr(lat), repr(lon)
        vid_field = f'"{vid_str}"' if i % 50 == 3 else vid_str
        if (i + 1) % 997 == 0:
            reason = REJECT_REASONS[n_bad % 3]
            n_bad += 1
            rejects[reason] += 1
            if reason == "bad_latlon":
                lat_s = "north"
            elif reason == "bad_time":
                ts_str = "yesterday"
            else:
                vid_field = "V" + vid_str
            lines.append(f"{ts_str},{vid_field},{lat_s},{lon_s}")
            continue
        if (i + 1) % 13 == 0:
            lines.append(f"{ts_str},{vid_field},n/a,n/a,0,1,2,3,4,{lat_s},{lon_s}")
        else:
            lines.append(f"{ts_str},{vid_field},{lat_s},{lon_s}")
        vid_strs.add(vid_str)
        clean_vid.append(to_int64(vid_str))
        clean_lat.append(lat)
        clean_lon.append(lon)
        clean_ts.append(ts_ms)
    truth = {
        "rows_in": n_rows,
        "rows_clean": len(clean_vid),
        "n_vehicles": len(vid_strs),
        "n_ids": len(set(clean_vid)),
        "rejects": rejects,
        "digest": row_digest(clean_vid, clean_lat, clean_lon, clean_ts),
    }
    clean = list(zip(clean_vid, clean_lat, clean_lon, clean_ts))
    return lines, truth, clean


def write_pings_csv(path: str, seed: int, n_rows: int, n_vehicles: int) -> dict:
    """Write the CSV and ``<path>.truth.json``; return the truth, with the
    first 10,001 clean rows (the encoder probe's input) under ``sample``."""
    lines, truth, clean = pings_rows(seed, n_rows, n_vehicles)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(path + ".truth.json", "w") as fh:
        json.dump(truth, fh)
    return {**truth, "sample": clean[:10_001], "bytes": os.path.getsize(path)}


# ---------------------------------------------------------------------------
# Stream source files
# ---------------------------------------------------------------------------

STREAM_VID_STRIDE = 10**6  # vehicle id // stride - 1 == file sequence number


def write_stream_files(
    stage_dir: str, seed: int, n_files: int, rows: int, vehicles: int
) -> list[dict]:
    """Write ``n_files`` CSV files into ``stage_dir``; return, per file, its
    sequence number, name and truth. Vehicle ids in file ``s`` are
    ``(s + 1) * stride + k``, so every delivered row names its file."""
    files = []
    for s in range(n_files):
        lines, truth, _ = pings_rows(
            seed * 100_003 + s, rows, vehicles, vid_base=(s + 1) * STREAM_VID_STRIDE
        )
        name = f"part-{s:05d}.csv"
        with open(os.path.join(stage_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append({"seq": s, "name": name, "truth": truth})
    return files


# ---------------------------------------------------------------------------
# Star-schema tables for the query workload
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "vector query agg table hash key group join filter stream slow data row "
    "window merge customer"
).split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; return row counts.

    Shapes and value domains follow the TPC-H-like tables the query library
    is written against (timestamps as naive microsecond instants, money as
    whole cents)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_users = max(50, int(15_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def ids(n):
        return pa.array(np.arange(n, dtype=np.int64))

    def pick(choices, n):
        return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99)),
                "c_mktsegment": pick(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_cents(rng, n_supp, -999.99, 9999.99)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pick(_PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pick(("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_cents(rng, n_ord, 1000, 500_000)),
                "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
                "o_orderpriority": pick(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, n_li, 900, 105_000)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pick(("A", "N", "R"), n_li),
                "l_linestatus": pick(("F", "O"), n_li),
                "l_shipdate": pa.array(_days(rng, n_li, "1995-01-01", "2001-12-31")),
            }
        ),
        "events": _events(rng, n_ev, n_users),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table(
            {
                "vec_id": ids(n_emb),
                "embedding": pa.array(
                    list(rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, n_emb), i32),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _events(rng, n, n_users):
    import pyarrow as pa

    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    # distinct, sorted instants: no two events share a timestamp
    ts = start + np.sort(rng.choice(span, n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n):
    import pyarrow as pa

    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:
            # an exact copy up to case and whitespace (the dedup queries fold both)
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "  ") + " ")
            continue
        words = np.asarray(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

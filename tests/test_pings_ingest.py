"""End-to-end batch ingestion tests (FIXTURES.md §A1-A5; CsvLoader.java:72-194)."""

import os
import subprocess
import sys

from conftest import (
    NARROW_ROWS,
    WIDE_ROWS,
    write_dirty_csv,
    write_gzip_csv,
    write_mixed_csv,
    write_narrow_csv,
    write_zip_csv,
)

from csv_loader_spark.io.pings import (
    PING_SCHEMA,
    distinct_vehicle_counts,
    read_pings,
    read_pings_raw,
    rejected_pings,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _by_id(df):
    return {
        r["vehicle_id"]: (r["ts_millis"], r["lat"], r["lon"]) for r in df.collect()
    }


def _expected(rows):
    return {vid: (ts, lat, lon) for _, (vid, ts, lat, lon) in rows}


def test_narrow_layout(spark, tmp_path):
    path = str(tmp_path / "narrow.csv")
    write_narrow_csv(path)
    df = read_pings(spark, path)
    assert df.schema == PING_SCHEMA
    assert _by_id(df) == _expected(NARROW_ROWS)


def test_mixed_layout_dispatches_per_record(spark, tmp_path):
    path = str(tmp_path / "mixed.csv")
    write_mixed_csv(path)
    got = _by_id(read_pings(spark, path))
    assert got == {**_expected(NARROW_ROWS), **_expected(WIDE_ROWS)}


def test_dirty_rows_dropped_pipeline_survives(spark, tmp_path):
    path = str(tmp_path / "dirty.csv")
    n_valid, n_dropped = write_dirty_csv(path)
    df = read_pings(spark, path)
    assert df.count() == n_valid
    # 2^64+1 wraps to 1 (BigInteger.longValue parity)
    assert 1 in _by_id(df)
    rej = rejected_pings(read_pings_raw(spark, path))
    assert rej.count() == n_dropped
    reasons = {r["reject_reason"] for r in rej.collect()}
    assert reasons == {"bad_latlon", "bad_time", "bad_vehicle_id"}


def test_gzip_source(spark, tmp_path):
    path = str(tmp_path / "narrow.csv.gz")
    write_gzip_csv(path)
    assert _by_id(read_pings(spark, path)) == _expected(NARROW_ROWS)


def test_zip_source_first_entry_only(spark, tmp_path):
    path = str(tmp_path / "narrow.zip")
    write_zip_csv(path)
    # decoy junk in the second entry must NOT surface (or pollute rejects)
    df = read_pings(spark, path)
    assert _by_id(df) == _expected(NARROW_ROWS)


def test_zip_staging_removed_at_exit(tmp_path):
    """The driver-side copy of a .zip's first entry outlives the lazy
    DataFrame that reads it, and is gone once the interpreter exits."""
    path = str(tmp_path / "narrow.zip")
    write_zip_csv(path)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os, sys\n"
        "from csv_loader_spark.io.pings import _extract_first_zip_entry\n"
        "staged = _extract_first_zip_entry(sys.argv[1])\n"
        "assert os.path.getsize(staged) > 0\n"
    )
    subprocess.run(
        [sys.executable, "-c", code, path],
        check=True,
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp)},
    )
    assert os.listdir(tmp) == []


def test_rfc4180_dialect_details(spark, tmp_path):
    """CRLF records, quoted numeric fields, doubled-quote escaping, a quoted
    field embedding a comma and a newline, ragged short and over-wide rows,
    empty fields, and the documented BOM divergence (we keep the row;
    reference drops it). The LF-ended row stays last: the multiLine reader
    takes the file's line separator from its first record (CRLF here)."""
    p = tmp_path / "rfc.csv"
    with open(p, "wb") as f:
        f.write("﻿".encode())  # BOM — stripped by Spark (divergence doc'd)
        f.write(b"2015-06-01 08:30:15+00,1,40.0,-74.0\r\n")  # CRLF
        f.write(b'"2015-06-01 08:30:16+00","2","41.5","-75.5"\r\n')  # quoted fields
        f.write(b'2015-06-01 08:30:18+00,3,40.0,-74.0,"a,b\nc"\r\n')  # , and \n
        f.write(b"2015-06-01 08:30:19+00,4\r\n")  # short row
        f.write(b"2015-06-01 08:30:20+00,,40.0,-74.0\r\n")  # empty id field
        # 14 fields: wide layout (lat/lon in cols 9/10), extras dropped
        f.write(b"2015-06-01 08:30:21+00,5,0,0,4,5,6,7,8,42.5,-76.5,x,y,z\r\n")
        f.write(b'2015-06-01 08:30:17+00,"say ""hi""",40.0,-74.0\n')  # "" escape
    df = read_pings(spark, str(p))
    got = _by_id(df)
    assert set(got) == {1, 2, 3, 5}  # the "" id, short, empty-id rows drop
    assert got[2] == (1433147416000, 41.5, -75.5)
    assert got[5] == (1433147421000, 42.5, -76.5)
    raw = {r["_c0"]: r for r in read_pings_raw(spark, str(p)).collect()}
    assert len(raw) == 7
    assert raw["2015-06-01 08:30:17+00"]["_c1"] == 'say "hi"'  # like commons-csv
    assert raw["2015-06-01 08:30:18+00"]["_c4"] == "a,b\nc"
    assert raw["2015-06-01 08:30:19+00"][2:] == (None,) * 9  # ragged → NULL
    assert raw["2015-06-01 08:30:20+00"]["_c1"] is None  # empty field → NULL
    wide = raw["2015-06-01 08:30:21+00"]
    assert len(wide) == 11 and wide["_c10"] == "-76.5"  # extra fields dropped


def test_directory_of_csvs(spark, tmp_path):
    """A directory (or glob) of ping files reads as one dataset — the
    many-input-files shape the 100 TB path requires (SCALE.md)."""
    d = tmp_path / "pings"
    d.mkdir()
    write_narrow_csv(str(d / "part1.csv"))
    with open(d / "part2.csv", "w") as f:
        f.write("2015-06-01 10:00:00+00,901,10.0,20.0\n")
    df = read_pings(spark, str(d))
    assert df.count() == len(NARROW_ROWS) + 1
    assert 901 in _by_id(df)


def test_ordered_per_vehicle(spark, tmp_path):
    from csv_loader_spark.io.pings import ordered_per_vehicle

    path = str(tmp_path / "order.csv")
    with open(path, "w") as f:
        # interleaved vehicles, shuffled times
        for ts, vid in [(5, 1), (3, 2), (1, 1), (4, 2), (2, 1)]:
            f.write(f"2015-06-01 08:30:0{ts}+00,{vid},40.0,-74.0\n")
    df = ordered_per_vehicle(read_pings(spark, path), num_partitions=2)
    for part in df.rdd.glom().collect():
        seen = [(r["vehicle_id"], r["ts_millis"]) for r in part]
        # within a partition: vehicles contiguous, time ascending per vehicle
        assert seen == sorted(seen)


def test_distinct_dual_counters_expose_truncation(spark, tmp_path):
    # two distinct id STRINGS that truncate to the same int64 (2^64+7 ≡ 7)
    path = str(tmp_path / "collide.csv")
    with open(path, "w") as f:
        f.write("2015-06-01 08:30:15+00,7,40.0,-74.0\n")
        f.write(f"2015-06-01 08:30:16+00,{2**64 + 7},40.1,-74.1\n")
    row = distinct_vehicle_counts(read_pings(spark, path)).collect()[0]
    assert (row["n_records"], row["n_vehicles"], row["n_ids"]) == (2, 2, 1)

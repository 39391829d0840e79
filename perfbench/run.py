"""Outside-in benchmark for the ingest path and the query library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It makes every input from ``--seed``,
starts the program in its own process (``worker.py``) with a loopback
receiver beside it, checks every output against a truth computed without
the code under test, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones, from a run that also has the Spark event log on.

Workloads, each a closed loop:

- ``ingest_file``: ``cli.main(["-f", csv, "-u", url])`` with CLI defaults,
  one load at a time, on a seeded pings CSV. Checked per load: the rows the
  receiver got (count and digest) and the printed progress line.
- ``ingest_stream``: ``stream_pings`` -> ``write_stream_http(metrics=
  "approx")``, default trigger, fed one staged file at a time: the next file
  is renamed into the source directory when the listener reports the
  micro-batch that read the previous one. Checked per file: every row
  delivered exactly once; and ``IngestMetrics.records`` exactly, the
  approximate distinct counts within HLL error. ``BENCHMARK.json`` does not
  list it, so nothing gates its end-to-end figures; a traced ``ingest_file``
  run runs it too and reports its ``streaming.*`` layer.
- ``query``: the ten headline registry queries plus ``q160_pagerank``, each
  built from the registry and materialized with a ``noop`` write, on seeded
  star-schema tables. Checked once per run against each query's DuckDB
  oracle (row count, column names, exact order-insensitive values), and
  by a full-plan guard on an untimed noop write of each.

The end-to-end metrics are ``setup_s`` (process start until the first
timed operation can begin) and ``op_p50_s`` (median time of one load, one
file's delivery, or one query pass). See ``perfbench/README.md``.

Every result is printed with its provenance (source digest, cores, load
average, versions, input sizes). Results are comparable only on the same
host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}

# Sizes, chosen so that one run of any workload ends well inside 180 s on a
# 4-core host (BENCHMARK.json's run_seconds is the timed window).
INGEST_ROWS, INGEST_VEHICLES = 25_000, 5_000
INGEST_WARM_LOADS = 3
# The stream is fed in a closed loop, one file at a time: each micro-batch
# holds exactly one file, so batch time cannot feed back into batch size.
STREAM_FILE_ROWS, STREAM_FILE_VEHICLES = 400, 80
# The first files warm the stream up (JIT, worker reuse) during set-up; they
# are checked but are not latency samples.
STREAM_WARM_FILES = 8
# Files are staged for one per 0.1 s of the timed window; a run that uses
# them all ends its window early.
STREAM_MIN_CYCLE_S = 0.1
STREAM_FILE_TIMEOUT_S = 30.0
LATENCY_LIMIT_S = 5.0
QUERY_SF = 0.01
QUERY_MIN_PASSES = 2  # a pass takes most of the timed window
HEADLINE = (
    "q01_pricing_summary",
    "q03_topn_revenue",
    "q05_nation_volume",
    "q07_brand_volume",
    "q13_window_topk",
    "q21_monthly_orders",
    "q23_sessionize",
    "q26_distinct_exact",
    "q28_dedup_exact",
    "q35_knn_bruteforce",
)
ITERATIVE = ("q160_pagerank",)
# Checked (oracle and full-plan guard) but not timed, in traced runs only:
# the rest of the iterative graph family.
TRACE_CHECKED = ("q181_kcore_peel", "q232_label_propagation", "q242_bounded_shortest_path")
HLL_TOLERANCE = 0.05
WORKER_TIMEOUT_S = 150.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile (inclusive interpolation); the value itself for one
    sample."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# ---------------------------------------------------------------------------
# Processes
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    table = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        table[int(entry.name)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return table


def _descendants(root: int, table: dict[int, int]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        pid = stack.pop()
        out.add(pid)
        stack.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Peak RSS summed over a process tree, sampled every 0.1 s."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self.samples = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = _descendants(self.pid, _proc_table())
            self.seen |= pids
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self.PAGE
                except OSError:
                    pass
            self.peak = max(self.peak, total)
            self.samples += 1
            self._halt.wait(0.1)

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Run:
    """One benchmark run: its directory, its processes, its clean-up."""

    def __init__(self, args, workload: str) -> None:
        self.args = args
        self.workload = workload
        self.dir = os.path.join(
            ROOT, ".bench_run", f"{workload}-{args.seed}-{os.getpid()}"
        )
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.procs: list[subprocess.Popen] = []
        self.sampler: RssSampler | None = None
        self.worker: subprocess.Popen | None = None
        self.receiver: subprocess.Popen | None = None
        self.t_spawn = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def env(self) -> dict[str, str]:
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        tmp = self.path("tmp")
        submit = [
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        ]
        if self.args.trace:
            os.makedirs(self.path("eventlog"))
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.path('eventlog')}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        env.update(
            {
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, env.get("PYTHONPATH")) if p
                ),
                "SPARK_GRAFT_CPUS": str(nproc()),
                "SPARK_LOCAL_DIRS": self.path("local"),
                "SPARK_GRAFT_WAREHOUSE": self.path("warehouse"),
                "TMPDIR": tmp,
                "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
                "PYTHONDONTWRITEBYTECODE": "1",
            }
        )
        return env

    def spawn(self, argv: list[str], log: str, **kw) -> subprocess.Popen:
        with open(self.path(log), "ab") as fh:
            proc = subprocess.Popen(
                [sys.executable, *argv], stdout=fh, stderr=fh, cwd=ROOT, **kw
            )
        self.procs.append(proc)
        return proc

    def start_receiver(self) -> str:
        self.receiver = self.spawn(
            [
                os.path.join(HERE, "receiver.py"),
                "--port-file", self.path("port"),
                "--out", self.path("bodies"),
            ],
            "receiver.log",
        )
        deadline = time.time() + 30
        while not os.path.exists(self.path("port")):
            if time.time() > deadline or self.receiver.poll() is not None:
                raise RuntimeError("receiver did not start")
            time.sleep(0.02)
        with open(self.path("port")) as fh:
            return f"http://127.0.0.1:{fh.read().strip()}/locationUpdate"

    def stop_receiver(self) -> list[tuple[float, bytes]]:
        import receiver

        self.receiver.send_signal(signal.SIGTERM)
        self.receiver.wait(timeout=30)
        return receiver.read_bodies(self.path("bodies"))

    def start_worker(self, spec: dict) -> None:
        spec = {
            **spec,
            "workload": self.workload,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "out": self.path("worker_out.json"),
        }
        with open(self.path("spec.json"), "w") as fh:
            json.dump(spec, fh)
        self.t_spawn = time.time()
        self.worker = self.spawn(
            [os.path.join(HERE, "worker.py"), self.path("spec.json")],
            "worker.log",
            env=self.env(),
            start_new_session=True,
        )
        self.sampler = RssSampler(self.worker.pid)
        self.sampler.start()

    def wait_worker(self) -> dict:
        try:
            self.worker.wait(timeout=max(1.0, self.t_spawn + WORKER_TIMEOUT_S - time.time()))
        except subprocess.TimeoutExpired:
            self.worker.kill()
            self.worker.wait()
        self.sampler.stop()
        if self.worker.returncode != 0 or not os.path.exists(self.path("worker_out.json")):
            with open(self.path("worker.log"), errors="replace") as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(
                f"worker exited with {self.worker.returncode}; log tail:\n{tail}"
            )
        with open(self.path("worker_out.json")) as fh:
            return json.load(fh)

    def worker_log(self) -> str:
        with open(self.path("worker.log"), errors="replace") as fh:
            return fh.read()

    def close(self) -> None:
        """Stop every process this run started, then remove its directory."""
        for proc in self.procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if self.sampler is not None:
            leftovers = {
                pid for pid in self.sampler.seen if pid in _proc_table()
            } - {os.getpid()}
            for pid in leftovers:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 20
            while leftovers and time.time() < deadline:
                leftovers &= set(_proc_table())
                time.sleep(0.05)
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Receiver-side decoding
# ---------------------------------------------------------------------------


def decode_all(bodies: list[tuple[float, bytes]]) -> list[dict]:
    """Decode every POST body with the program's own wire decoder."""
    import numpy as np

    from csv_loader_spark.sinks.envelope import decode_envelope

    out = []
    for arrival, body in bodies:
        env = decode_envelope(body)
        vid, lat, lon, ts = [], [], [], []
        for v, locs in env.messages:
            for la, lo, t in locs:
                vid.append(v)
                lat.append(la)
                lon.append(lo)
                ts.append(t)
        out.append(
            {
                "arrival": arrival,
                "source_id": env.source_id,
                "sha": hashlib.sha1(body).digest(),
                "vid": np.asarray(vid, dtype=np.int64),
                "lat": np.asarray(lat, dtype=np.float64),
                "lon": np.asarray(lon, dtype=np.float64),
                "ts": np.asarray(ts, dtype=np.int64),
            }
        )
    return out


def _concat(envs: list[dict]):
    import numpy as np

    if not envs:
        return [np.zeros(0, np.int64)] * 4
    return [np.concatenate([e[k] for e in envs]) for k in ("vid", "lat", "lon", "ts")]


# ---------------------------------------------------------------------------
# ingest_file
# ---------------------------------------------------------------------------

PROBE_SOURCE_ID = 0  # envelopes posted by the benchmark's own post probe


def progress_line(truth: dict) -> str:
    return "%.2fM records loaded, %d unique vehicles (%d unique ids)" % (
        truth["rows_clean"] / 1e6,
        truth["n_vehicles"],
        truth["n_ids"],
    )


def bench_ingest_file(run: Run) -> dict:
    csv = run.path("pings.csv")
    truth = gen.write_pings_csv(csv, run.args.seed, INGEST_ROWS, INGEST_VEHICLES)
    url = run.start_receiver()
    run.start_worker({"url": url, "csv": csv, "warm_loads": INGEST_WARM_LOADS})
    out = run.wait_worker()
    layer = {}
    if run.args.trace:
        layer.update(sink_probes(truth["sample"], url))
    envs = decode_all(run.stop_receiver())
    envs = [e for e in envs if e["source_id"] != PROBE_SOURCE_ID]

    failures = []
    per_load = []
    for i, load in enumerate(out["loads"]):
        mine = [e for e in envs if load["start"] <= e["arrival"] <= load["end"]]
        sources = {e["source_id"] for e in mine}
        vid, lat, lon, ts = _concat(mine)
        ok_rows = (
            len(vid) == truth["rows_clean"]
            and gen.row_digest(vid, lat, lon, ts) == truth["digest"]
        )
        ok_line = load["rc"] == 0 and load["line"] == progress_line(truth)
        if not (ok_rows and ok_line and len(sources) == 1):
            failures.append(
                f"load {i}: rows {len(vid)}/{truth['rows_clean']} digest_ok={ok_rows} "
                f"sources={len(sources)} line={load['line']!r}"
            )
        arrivals = [e["arrival"] for e in mine]
        per_load.append(
            {
                "wall_s": load["end"] - load["start"],
                "posts": len(mine),
                "busy_s": max(arrivals) - min(arrivals) if arrivals else 0.0,
                "duplicates": len(mine) - len({e["sha"] for e in mine}),
                "group": load.get("group"),
                "timed": not load["warm"],
            }
        )
    loads_matched = sum(
        1 for e in envs if any(l["start"] <= e["arrival"] <= l["end"] for l in out["loads"])
    )
    if loads_matched != len(envs):
        failures.append(f"{len(envs) - loads_matched} envelopes arrived outside any load")
    timed = [l for l in per_load if l["timed"]]
    samples = [l["wall_s"] for l in timed]
    detail = {
        "rows_per_s": truth["rows_clean"] / p50(samples),
        "loads": len(samples),
        "load_wall_s": samples,
        "input": {k: truth[k] for k in ("rows_in", "rows_clean", "n_vehicles", "n_ids", "bytes")},
    }
    if run.args.trace:
        layer.update(ingest_file_layers(run, out, timed, truth, failures))
    return {
        "setup_s": out["t_ready"] - run.t_spawn,
        "samples": samples,
        "attempted": len(out["loads"]),
        "failures": failures,
        "detail": detail,
        "layer": layer,
    }


def sink_probes(sample: list, url: str) -> dict:
    """Time ``encode_envelope`` on one 10,001-row chunk of the workload's
    own rows, and ``post_bytes`` of pre-encoded envelopes, here in the
    benchmark process."""
    from csv_loader_spark.sinks.envelope import encode_envelope
    from csv_loader_spark.sinks.http import post_bytes

    enc = []
    for _ in range(5):
        t0 = time.perf_counter()
        payload = encode_envelope(PROBE_SOURCE_ID, sample)
        enc.append(time.perf_counter() - t0)
    post = []
    for _ in range(10):
        t0 = time.perf_counter()
        post_bytes(url, payload, max_retries=0)
        post.append(time.perf_counter() - t0)
    return {
        "sinks.envelope.encode_ms": p50(enc) * 1e3,
        "sinks.envelope.bytes_per_row": len(payload) / len(sample),
        "sinks.http.post_ms_p50": p50(post) * 1e3,
    }


def _spark_layers(groups: list[dict], wall: list[float]) -> dict:
    """Medians over instrumented operations of the event-log totals."""
    if not groups:
        return {}
    keys = ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "task_skew")
    out = {f"spark.{k}": p50([g[k] for g in groups]) for k in keys}
    cores = nproc()
    out["spark.core_idle_frac"] = p50(
        [1 - g["task_run_s"] / (w * cores) for g, w in zip(groups, wall)]
    )
    return out


def _event_groups(run: Run, key: str):
    import eventlog

    return eventlog.summarize(eventlog.read_events(run.path("eventlog")), key)


def _overhead(traced: list[float], plain: list[float]) -> float:
    return p50(traced) / p50(plain) - 1 if traced and plain else 0.0


def ingest_file_layers(run, out, timed, truth, failures) -> dict:
    groups = _event_groups(run, "spark.jobGroup.id")
    inst = [l for l in timed if l["group"]]
    ev = [groups.get(l["group"], {}) for l in inst]
    ev = [g for g in ev if g]
    io = out["io_pings"]
    rejects = io["rejects"]
    if (io["rows_in"], io["rows_out"], rejects) != (
        truth["rows_in"], truth["rows_clean"], {k: v for k, v in truth["rejects"].items() if v}
    ):
        failures.append(f"io.pings counts differ from truth: {io}")
    layer = {
        "cli.spark_jobs": p50([g["jobs"] for g in ev]),
        "cli.csv_scans": p50([g["csv_scans"] for g in ev]),
        "io.pings.scan_s": io["scan_s"],
        "io.pings.clean_s": io["clean_s"],
        "io.pings.scan_tasks": io["scan_tasks"],
        "io.pings.rows_in": io["rows_in"],
        "io.pings.rows_out": io["rows_out"],
        "io.pings.rejects": sum(rejects.values()),
        **{f"io.pings.rejects.{r}": rejects.get(r, 0) for r in gen.REJECT_REASONS},
        "sinks.http.posts": p50([l["posts"] for l in timed]),
        "sinks.http.busy_s": p50([l["busy_s"] for l in timed]),
        "sinks.http.non2xx": run.worker_log().count("http sink: status"),
        "sinks.http.duplicate_envelopes": sum(l["duplicates"] for l in timed),
        "trace.overhead_frac": _overhead(
            [l["wall_s"] for l in inst], [l["wall_s"] for l in timed if not l["group"]]
        ),
    }
    layer.update(_spark_layers(ev, [l["wall_s"] for l in inst if groups.get(l["group"])]))
    return layer


# ---------------------------------------------------------------------------
# ingest_stream
# ---------------------------------------------------------------------------


def bench_ingest_stream(run: Run) -> dict:
    src, stage = run.path("src"), run.path("stage")
    os.makedirs(src)
    os.makedirs(stage)
    # Every file is made before the program starts, so generating them stays
    # out of set-up; the worker only renames each into the source directory.
    n_files = STREAM_WARM_FILES + int(run.args.seconds / STREAM_MIN_CYCLE_S) + 1
    staged = gen.write_stream_files(
        stage, run.args.seed, n_files, STREAM_FILE_ROWS, STREAM_FILE_VEHICLES
    )
    url = run.start_receiver()
    source_id = (run.args.seed * 2_654_435_761) % (1 << 62) + 1
    run.start_worker(
        {
            "url": url,
            "source_id": source_id,
            "src_dir": src,
            "stage_dir": stage,
            "checkpoint": run.path("checkpoint"),
            "files": [{"name": f["name"], "rows_in": f["truth"]["rows_in"]} for f in staged],
            "warm_files": STREAM_WARM_FILES,
            "file_timeout_s": STREAM_FILE_TIMEOUT_S,
        }
    )
    out = run.wait_worker()
    envs = decode_all(run.stop_receiver())

    import numpy as np

    failures = []
    if out["stalled"]:
        failures.append(f"a micro-batch did not complete within {STREAM_FILE_TIMEOUT_S} s")
    vid, lat, lon, ts = _concat(envs)
    arrival = np.concatenate(
        [np.full(len(e["vid"]), e["arrival"]) for e in envs]
    ) if envs else np.zeros(0)
    seq = vid // gen.STREAM_VID_STRIDE - 1
    placed = out["placed"]
    files = [{**staged[p["seq"]], **p} for p in placed]
    latencies, undelivered = [], 0
    for f in files:
        m = seq == f["seq"]
        t = f["truth"]
        n = int(m.sum())
        if n != t["rows_clean"] or gen.row_digest(vid[m], lat[m], lon[m], ts[m]) != t["digest"]:
            failures.append(f"file {f['seq']}: {n}/{t['rows_clean']} rows delivered")
            undelivered += 1
            continue
        if f["seq"] >= STREAM_WARM_FILES:
            latencies.append(float(arrival[m].max()) - f["created"])
    if ((seq < 0) | (seq >= len(files))).any():
        failures.append("rows from no placed file")
    truths = [f["truth"] for f in files]
    n_clean = sum(t["rows_clean"] for t in truths)
    true_vehicles = sum(t["n_vehicles"] for t in truths)
    true_ids = sum(t["n_ids"] for t in truths)
    metrics_ok = (
        out["records"] == n_clean
        and abs(out["approx_vehicles"] - true_vehicles) <= HLL_TOLERANCE * true_vehicles
        and abs(out["approx_ids"] - true_ids) <= HLL_TOLERANCE * true_ids
    )
    if not metrics_ok:
        failures.append(
            f"IngestMetrics records={out['records']}/{n_clean} "
            f"vehicles={out['approx_vehicles']}/{true_vehicles} ids={out['approx_ids']}/{true_ids}"
        )
    if any(e["source_id"] != source_id for e in envs):
        failures.append("envelope with a foreign source id")
    timed = files[STREAM_WARM_FILES:]
    over_limit = sum(x > LATENCY_LIMIT_S for x in latencies)
    window = timed[-1]["done"] - timed[0]["created"] if timed else 0.0
    detail = {
        "files": len(timed),
        "warm_files": STREAM_WARM_FILES,
        "staged_files": len(staged),
        "delivery_s": [round(x, 3) for x in latencies],
        "rate_rows_per_s": len(timed) * STREAM_FILE_ROWS / window if window else 0.0,
        "delivery_p50_s": p50(latencies),
        "delivery_p90_s": p90(latencies),
        "over_limit_files": over_limit,
        "latency_limit_s": LATENCY_LIMIT_S,
        # one file in flight at a time: the run is over capacity when a
        # single file already misses the latency limit
        "over_capacity": over_limit > 0,
        "records": out["records"],
        "approx_vehicles": [out["approx_vehicles"], true_vehicles],
        "approx_ids": [out["approx_ids"], true_ids],
    }
    layer = {}
    if run.args.trace:
        layer = stream_layers(run, out, timed, undelivered, envs)
        layer["streaming.delivery_p50_s"] = p50(latencies)
        layer["streaming.delivery_p90_s"] = p90(latencies)
    return {
        "setup_s": out["t_ready"] - run.t_spawn,
        "samples": latencies,
        "attempted": len(files) + 1,
        "failures": failures,
        "detail": detail,
        "layer": layer,
    }


def stream_layers(run, out, timed, undelivered, envs) -> dict:
    import eventlog

    progress = [p for p in out["progress"] if p["rows"] > 0]

    def dur(key):
        return p50([p["durations"].get(key, 0) for p in progress])

    batches = eventlog.summarize(eventlog.read_events(run.path("eventlog")), eventlog.BATCH_KEY)
    ev = [batches[str(p["batch"])] for p in progress if str(p["batch"]) in batches]
    walls = [p["durations"].get("triggerExecution", 0) / 1e3 for p in progress if str(p["batch"]) in batches]
    layer = {
        "streaming.batches": len(progress),
        "streaming.rows_per_batch": p50([p["rows"] for p in progress]),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.plan_ms_p50": dur("queryPlanning"),
        "streaming.commit_ms_p50": p50(
            [p["durations"].get("walCommit", 0) + p["durations"].get("commitOffsets", 0) for p in progress]
        ),
        "streaming.jobs_per_batch": p50([g["jobs"] for g in ev]),
        # files placed but not delivered when the stream stopped
        "streaming.backlog_files_end": undelivered,
        # how late the closed loop placed a file after the previous one's
        # micro-batch was reported complete
        "streaming.generator_lag_ms_max": max(
            ((b["created"] - a["done"]) * 1e3 for a, b in zip(timed, timed[1:])),
            default=0.0,
        ),
        "sinks.http.posts": len(envs) / max(1, len(progress)),
        "sinks.http.non2xx": run.worker_log().count("http sink: status"),
        "sinks.http.duplicate_envelopes": len(envs) - len({e["sha"] for e in envs}),
    }
    layer.update(_spark_layers(ev, walls))
    return layer


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


def bench_query(run: Run) -> dict:
    # the oracle gate's own comparison rule and DuckDB views
    from tools.check_oracle import compare_exact, duck_conn

    tables = run.path("tables")
    sizes = gen.write_tables(tables, run.args.seed, QUERY_SF)
    names = list(HEADLINE + ITERATIVE)
    checked = names + list(TRACE_CHECKED if run.args.trace else ())
    run.start_worker(
        {
            "tables": tables,
            "queries": names,
            "checked": checked,
            "min_passes": QUERY_MIN_PASSES,
            "results_file": run.path("results.pkl"),
        }
    )
    out = run.wait_worker()
    failures = [f"{n}: {e}" for n, e in out["errors"].items()]
    for n, g in out["guard"].items():
        if g["missing"]:
            failures.append(f"{n}: noop write plan lost {g['missing']}")
    with open(run.path("results.pkl"), "rb") as fh:
        results = pickle.load(fh)  # written by this run's own worker

    con = duck_conn(tables)
    duck_s = {}
    for n in checked:
        sql = out["oracles"][n]
        if n in results:
            problems = compare_exact(results[n], con.execute(sql).fetchdf())
            if problems:
                failures.append(f"{n}: oracle mismatch: {'; '.join(problems)}")
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetch_arrow_table()
            times.append(time.perf_counter() - t0)
        duck_s[n] = p50(times)
    con.close()
    passes = out["passes"]
    totals = [sum(p["times"].values()) for p in passes if len(p["times"]) == len(names)]
    per_query = {n: p50([p["times"][n] for p in passes if n in p["times"]]) for n in names}
    detail = {
        "passes": len(passes),
        "pass_total_s": totals,
        "query_total_s": p50(totals),
        "per_query_s": per_query,
        "reference_duckdb_arrow_s": duck_s,
        "reference_duckdb_total_s": sum(duck_s[n] for n in names),
        "result_rows": {n: len(r) for n, r in results.items()},
        "table_rows": sizes,
        "sf": QUERY_SF,
        "guard": {n: g["logical"] for n, g in out["guard"].items()},
    }
    layer = {}
    if run.args.trace:
        layer = query_layers(run, out, names, duck_s)
        detail["count_s"] = out["count_s"]
        detail["count_drops_ops"] = {n: g["count_drops"] for n, g in out["guard"].items()}
        detail["layers_per_query"] = next(
            (p["layers"] for p in out["passes"] if p["group"]), {}
        )
    return {
        "setup_s": out["t_ready"] - run.t_spawn,
        "samples": totals,
        "attempted": len(names) * (len(passes) + 1),
        "failures": failures,
        "detail": detail,
        "layer": layer,
    }


def query_layers(run, out, names, duck_s) -> dict:
    groups = _event_groups(run, "spark.jobGroup.id")
    inst = [p for p in out["passes"] if p["group"]]
    plain = [p for p in out["passes"] if not p["group"]]

    def pass_sum(p, key):
        return sum(v[key] for v in p["layers"].values())

    def pass_events(p):
        recs = [groups.get(f"{p['group']}:{n}") for n in names]
        recs = [r for r in recs if r]
        keys = recs[0].keys() if recs else ()
        total = {k: sum(r[k] for r in recs) for k in keys}
        if recs:
            total["task_skew"] = max(r["task_skew"] for r in recs)
        return total

    ev = [pass_events(p) for p in inst]
    ev_ok = [e for e in ev if e]
    layer = {
        "queries.build_s": p50([pass_sum(p, "build_s") for p in inst]),
        "queries.py4j_calls": p50([pass_sum(p, "py4j_calls") for p in inst]),
        "queries.plan_s": p50([pass_sum(p, "plan_s") for p in inst]),
        "queries.exec_s": p50([pass_sum(p, "exec_s") for p in inst]),
        "queries.jobs": p50([e["jobs"] for e in ev_ok]),
        "queries.stages": p50([e["stages"] for e in ev_ok]),
        "queries.tasks": p50([e["tasks"] for e in ev_ok]),
        "queries.count_s": sum(out["count_s"].values()),
        "queries.count_dropped_ops": sum(g["count_drops"] for g in out["guard"].values()),
        "queries.guard_missing_ops": sum(
            sum(g["missing"].values()) for g in out["guard"].values()
        ),
        "ops.graph.calls": p50([pass_sum(p, "graph_calls") for p in inst]),
        "ops.graph.call_s": p50([pass_sum(p, "graph_s") for p in inst]),
        "reference.duckdb_total_s": sum(duck_s[n] for n in names),
        "trace.overhead_frac": _overhead(
            [sum(p["times"].values()) for p in inst],
            [sum(p["times"].values()) for p in plain],
        ),
    }
    layer.update(_spark_layers(ev_ok, [sum(p["times"].values()) for p, e in zip(inst, ev) if e]))
    return layer


# ---------------------------------------------------------------------------
# Command line
# ---------------------------------------------------------------------------

WORKLOADS = {
    "ingest_file": bench_ingest_file,
    "ingest_stream": bench_ingest_stream,
    "query": bench_query,
}


def per_layer_units() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def provenance(args, load_start) -> dict:
    def version(cmd):
        try:
            return subprocess.run(cmd, capture_output=True, text=True, timeout=30).stderr.splitlines()[0]
        except (OSError, IndexError, subprocess.SubprocessError):
            return "unknown"

    import duckdb
    import pyspark

    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "csv_loader_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    digest.update(fn.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=ROOT, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": version(["java", "-version"]),
        "duckdb": duckdb.__version__,
        "host": platform.machine(),
    }


def measure(args, workload: str) -> dict:
    """Run one workload in a run directory of its own, then clean up."""
    run = Run(args, workload)
    try:
        res = WORKLOADS[workload](run)
        res["peak_rss_mb"] = run.sampler.peak / 1e6
        res["rss_samples"] = run.sampler.samples
    finally:
        run.close()
    return res


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "csv_loader_spark", "__init__.py")):
        print(f"no csv_loader_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    load_start = list(os.getloadavg())
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    res = measure(args, args.workload)
    if args.trace and args.workload == "ingest_file":
        # The stream runs the same parse and sink code in one-file
        # micro-batches. Its delivery time moves with the host's speed by
        # more than any bound a gate could keep, so it is not a gated
        # workload; its traced run rides along here for the streaming layer.
        stream = measure(args, "ingest_stream")
        res["layer"].update(
            {k: v for k, v in stream["layer"].items() if k.startswith("streaming.")}
        )
        res["failures"] += [f"ingest_stream: {f}" for f in stream["failures"]]
        res["attempted"] += stream["attempted"]
        res["detail"]["ingest_stream"] = stream["detail"]
    samples = res["samples"]
    peak_mb = res["peak_rss_mb"]
    print("# provenance " + json.dumps(provenance(args, load_start)))
    summary = {
        "op_p50_s": p50(samples),
        "op_p90_s": p90(samples),
        "op_samples": len(samples),
        "peak_rss_mb": peak_mb,
        "rss_samples": res["rss_samples"],
    }
    print("# detail " + json.dumps({**res["detail"], **summary}))
    for f in res["failures"]:
        print(f"# FAILED {f}")
    if args.trace:
        layer = {**res["layer"], "process.peak_rss_mb": peak_mb}
        metrics = {
            n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_units()
        }
    else:
        values = {"setup_s": res["setup_s"], "op_p50_s": summary["op_p50_s"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}")
    failed = min(len(res["failures"]), max(1, res["attempted"]))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(1, res["attempted"]),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

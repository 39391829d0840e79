"""The program side of a benchmark run: one process per run.

    python3 perfbench/worker.py SPEC.json

``run.py`` starts this process with the environment the program needs
(``PYTHONPATH`` on the checkout, ``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS``
and, in a traced run, an event log turned on through
``PYSPARK_SUBMIT_ARGS``). It calls only public entry points of
``csv_loader_spark``: ``cli.main``, ``streaming.pings.stream_pings`` /
``write_stream_http``, the query registry, and in a traced run the public
functions of ``io.pings``. It writes what it measured to ``spec["out"]``;
all checking happens in ``run.py`` after this process has exited.

A traced run (``spec["trace"]``) alternates its timed operations between
instrumented and plain. Instrumented operations run under a Spark job
group (so the event log can be split per operation), count py4j commands,
and time calls into ``ops.graph``; the ratio of the two medians is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import pickle
import statistics
import sys
import threading
import time
from collections import Counter

SPEC: dict = {}


def _now() -> float:
    return time.time()


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.rename(tmp, path)


# ---------------------------------------------------------------------------
# Instrumentation (traced runs only)
# ---------------------------------------------------------------------------


class Probe:
    """Counters the traced run reads around each operation."""

    def __init__(self) -> None:
        self.active = False
        self.py4j_calls = 0
        self.graph_calls = 0
        self.graph_s = 0.0
        self._depth = threading.local()

    def install_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        probe = self

        def send_command(self, *args, **kwargs):
            if probe.active:
                probe.py4j_calls += 1
            return original(self, *args, **kwargs)

        GatewayClient.send_command = send_command

    def install_graph(self) -> None:
        """Wrap the public functions of ``ops.graph`` before the query
        modules import them, so every caller gets the wrapped version."""
        import inspect

        from csv_loader_spark.ops import graph

        for name, fn in list(vars(graph).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != graph.__name__
            ):
                continue
            setattr(graph, name, self._timed(fn))

    def _timed(self, fn):
        probe = self

        def wrapper(*args, **kwargs):
            depth = getattr(probe._depth, "n", 0)
            probe._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                probe._depth.n = depth
                if probe.active and depth == 0:
                    probe.graph_calls += 1
                    probe.graph_s += time.perf_counter() - t0

        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        return wrapper


PROBE = Probe()


@contextlib.contextmanager
def operation(spark, group: str | None):
    """Run one timed operation, instrumented when ``group`` is given."""
    if group is not None:
        spark.sparkContext.setJobGroup(group, group)
        PROBE.active = True
    try:
        yield
    finally:
        if group is not None:
            PROBE.active = False
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def traced_turn(i: int) -> bool:
    """In a traced run, even-numbered operations are instrumented."""
    return bool(SPEC["trace"]) and i % 2 == 0


def _spark():
    from csv_loader_spark.session import get_spark

    return get_spark("csv_loader_cli")


# ---------------------------------------------------------------------------
# ingest_file: cli.main loads in a closed loop
# ---------------------------------------------------------------------------


def _load(cli, csv: str) -> tuple[float, float, str, int]:
    buf = io.StringIO()
    t0 = _now()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["-f", csv, "-u", SPEC["url"]])
    return t0, _now(), buf.getvalue().strip(), rc


def run_ingest_file() -> dict:
    from csv_loader_spark import cli

    spark = _spark()
    # untimed loads of the same CSV: JIT and Python workers warm up
    loads = []
    for _ in range(SPEC["warm_loads"]):
        t0, t1, line, rc = _load(cli, SPEC["csv"])
        loads.append({"warm": True, "start": t0, "end": t1, "line": line, "rc": rc})
    t_ready = _now()
    i = 0
    while i == 0 or _now() < t_ready + SPEC["seconds"]:
        group = f"load:{i}" if traced_turn(i) else None
        with operation(spark, group):
            t0, t1, line, rc = _load(cli, SPEC["csv"])
        loads.append(
            {"warm": False, "start": t0, "end": t1, "line": line, "rc": rc, "group": group}
        )
        i += 1
    out = {"t_ready": t_ready, "loads": loads}
    if SPEC["trace"]:
        out["io_pings"] = _io_pings_layer(spark, SPEC["csv"])
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _io_pings_layer(spark, csv: str) -> dict:
    """Time the scan and the parse/clean expressions on their own."""
    from csv_loader_spark.io import pings

    scan, full = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        _noop(pings.read_pings_raw(spark, csv))
        scan.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _noop(pings.read_pings(spark, csv))
        full.append(time.perf_counter() - t0)
    raw = pings.read_pings_raw(spark, csv)
    rejects = {
        r["reject_reason"]: r["count"]
        for r in pings.rejected_pings(raw).groupBy("reject_reason").count().collect()
    }
    return {
        "scan_s": statistics.median(scan),
        "clean_s": statistics.median(full) - statistics.median(scan),
        "scan_tasks": raw.rdd.getNumPartitions(),
        "rows_in": raw.count(),
        "rows_out": pings.read_pings(spark, csv).count(),
        "rejects": rejects,
    }


# ---------------------------------------------------------------------------
# ingest_stream: stream_pings -> write_stream_http, fed one file at a time
# ---------------------------------------------------------------------------


def run_ingest_stream() -> dict:
    from pyspark.sql.streaming import StreamingQueryListener

    from csv_loader_spark.streaming.pings import stream_pings, write_stream_http

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.rows = 0
            self.changed = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.changed:
                self.events.append(
                    {
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "durations": dict(p.durationMs),
                    }
                )
                self.rows += p.numInputRows
                self.changed.notify_all()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    spark = _spark()
    listener = ProgressLog()
    spark.streams.addListener(listener)
    query, state = write_stream_http(
        stream_pings(spark, SPEC["src_dir"]),
        SPEC["url"],
        SPEC["source_id"],
        SPEC["checkpoint"],
        metrics="approx",
    )
    placed: list[dict] = []
    expected = 0

    def feed(seq: int, f: dict) -> bool:
        """Rename one staged file into the source directory and wait until
        the listener reports the micro-batch that read it."""
        nonlocal expected
        expected += f["rows_in"]
        created = _now()
        os.rename(
            os.path.join(SPEC["stage_dir"], f["name"]),
            os.path.join(SPEC["src_dir"], f["name"]),
        )
        with listener.changed:
            ok = listener.changed.wait_for(
                lambda: listener.rows >= expected, timeout=SPEC["file_timeout_s"]
            )
        placed.append({"seq": seq, "created": created, "done": _now()})
        return ok

    files = SPEC["files"]
    warm = SPEC["warm_files"]
    # stream start: the first (cold) micro-batches warm the stream up
    ok = all(feed(s, files[s]) for s in range(warm))
    t_ready = _now()
    s = warm
    while ok and s < len(files) and (s == warm or _now() < t_ready + SPEC["seconds"]):
        ok = feed(s, files[s])
        s += 1
    query.stop()
    return {
        "t_ready": t_ready,
        "stalled": not ok,
        "placed": placed,
        "progress": listener.events,
        "records": state.records,
        "approx_vehicles": state.approx_vehicles,
        "approx_ids": state.approx_ids,
    }


# ---------------------------------------------------------------------------
# query: registry queries materialized with a full-plan noop write
# ---------------------------------------------------------------------------

GUARDED = ("Window", "Join", "Aggregate", "Generate", "Expand")


def _logical_counts(jplan) -> Counter:
    counts: Counter = Counter()
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in GUARDED:
            counts[name] += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts


def _physical_category(name: str) -> str | None:
    if name.startswith("Window") and name != "WindowGroupLimit":
        return "Window"
    if "Join" in name or name == "CartesianProduct":
        return "Join"
    if "Aggregate" in name:
        return "Aggregate"
    if name in ("Generate", "Expand"):
        return name
    return None


def _execution_ids(spark) -> list[int]:
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [executions.apply(i).executionId() for i in range(executions.size())]


def _physical_counts(spark, exec_ids: list[int]) -> Counter:
    """Guarded operators in the final (post-AQE) plans of these executions,
    read from the SQL status store once each execution has completed."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = _now() + 10
    for eid in exec_ids:
        while store.execution(eid).get().completionTime().isEmpty() and _now() < deadline:
            time.sleep(0.02)
    counts: Counter = Counter()
    for eid in exec_ids:
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            cat = _physical_category(nodes.apply(i).name())
            if cat:
                counts[cat] += 1
    return counts


def _guard(spark, df, exec_ids: list[int], rebuild) -> dict:
    """Check that the plans the noop write of ``df`` executed (``exec_ids``)
    keep every guarded operator of df's own optimized plan."""
    logical = _logical_counts(df._jdf.queryExecution().optimizedPlan())
    physical = _physical_counts(spark, exec_ids)
    missing = {k: v - physical[k] for k, v in logical.items() if physical[k] < v}
    out = {"logical": dict(logical), "physical": dict(physical), "missing": missing}
    if SPEC["trace"]:  # what a count() would have left of the plan
        counted = rebuild().groupBy().count()
        count_logical = _logical_counts(counted._jdf.queryExecution().optimizedPlan())
        out["count_drops"] = sum(max(0, v - count_logical[k]) for k, v in logical.items())
    return out


def run_query() -> dict:
    spark = _spark()
    if SPEC["trace"]:
        PROBE.install_graph()
    from csv_loader_spark.queries.registry import all_specs

    specs = all_specs()
    names = SPEC["queries"]
    checked = SPEC["checked"]  # timed queries, plus more in a traced run
    sf_dir = SPEC["tables"]
    errors: dict[str, str] = {}

    def fail(name: str, stage: str, e: Exception) -> None:
        errors.setdefault(name, f"{stage}: {type(e).__name__}: {str(e)[:300]}")

    def build(name: str):
        return specs[name].fn(spark, sf_dir)

    # Set-up warms up with two untimed passes. The first collects every
    # result for the oracle check in run.py. The second makes the noop
    # writes the timed passes make, since the first noop writes after a
    # collect still run slower, and checks their plans with the full-plan
    # guard.
    results = {}
    for name in checked:
        try:
            results[name] = build(name).toPandas()
        except Exception as e:  # a failing query is a failed operation
            fail(name, "collect", e)
    with open(SPEC["results_file"], "wb") as fh:
        pickle.dump(results, fh)
    guard = {}
    for name in checked:
        try:
            df = build(name)
            before = set(_execution_ids(spark))
            _noop(df)
            new = sorted(set(_execution_ids(spark)) - before)
            guard[name] = _guard(spark, df, new, lambda n=name: build(n))
        except Exception as e:
            fail(name, "guard", e)
    t_ready = _now()
    passes = []
    p = 0
    while p < SPEC["min_passes"] or _now() < t_ready + SPEC["seconds"]:
        group = f"pass:{p}" if traced_turn(p) else None
        times, layers = {}, {}
        for name in names:
            qgroup = f"{group}:{name}" if group else None
            with operation(spark, qgroup):
                try:
                    calls0, g0, gs0 = PROBE.py4j_calls, PROBE.graph_calls, PROBE.graph_s
                    t0 = time.perf_counter()
                    df = build(name)
                    t1 = time.perf_counter()
                    calls1 = PROBE.py4j_calls
                    plan_s = 0.0
                    if qgroup:
                        df._jdf.queryExecution().executedPlan()
                        plan_s = time.perf_counter() - t1
                    t2 = time.perf_counter()
                    _noop(df)
                    t3 = time.perf_counter()
                except Exception as e:
                    fail(name, f"pass {p}", e)
                    continue
            times[name] = (t1 - t0) + (t3 - t2)
            if qgroup:
                layers[name] = {
                    "build_s": t1 - t0,
                    "py4j_calls": calls1 - calls0,
                    "plan_s": plan_s,
                    "exec_s": max(0.0, (t3 - t2) - plan_s),
                    "graph_calls": PROBE.graph_calls - g0,
                    "graph_s": PROBE.graph_s - gs0,
                }
        passes.append({"group": group, "times": times, "layers": layers})
        p += 1
    counts = {}
    if SPEC["trace"]:
        for name in names:
            try:
                t0 = time.perf_counter()
                build(name).count()
                counts[name] = time.perf_counter() - t0
            except Exception as e:
                fail(name, "count", e)
    return {
        "oracles": {name: specs[name].oracle for name in checked},
        "t_ready": t_ready,
        "passes": passes,
        "guard": guard,
        "count_s": counts,
        "errors": errors,
    }


RUNNERS = {
    "ingest_file": run_ingest_file,
    "ingest_stream": run_ingest_stream,
    "query": run_query,
}


def main(argv: list[str]) -> int:
    with open(argv[0]) as fh:
        SPEC.update(json.load(fh))
    if SPEC["trace"]:
        PROBE.install_py4j()
    out = RUNNERS[SPEC["workload"]]()
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()  # flushes and closes the event log
    _write_json(SPEC["out"], out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

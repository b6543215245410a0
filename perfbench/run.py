"""CDC serving benchmark: mirror freshness, catch-up rate and dashboard
latency of the engine, driven only through its public entry points.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from ``--seed``
before timing starts; every run checks the mirror and the dashboard
requests against a pure-Python oracle. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See README.md beside this file.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgres_opensearch_cdc_spark"

# Load, sized for one 4-core host: one Python process, local[4], one
# streaming query, at most one query client, one generator thread and one
# visibility poller.
MASTER = "local[4]"
DRIVER_MEMORY = "2g"
AT_ROWS = 50_000
CARD_ROWS = 5_000
EVENTS_PER_S = 400
FILE_INTERVAL_S = 0.1  # sub-second file cadence: 40 events per file
BACKLOG_FILES = 20  # a 20-s outage at the live rate
POLL_S = 0.01
DRAIN_TIMEOUT_S = 60
CLIENT_SCHEDULE = 500
# ingest's read probe on the mirror the stream left: one request of each
# query interface (search hits, query_string, terms agg, count, PPL)
PROBE = frozenset({"q01_term", "q04_bool_qs", "q05_terms_agg", "q10_count", "ppl_stats"})


@dataclass(frozen=True)
class Workload:
    skew: str  # key choice of updates and deletes (gen.ChangeStream)
    client: bool  # a closed-loop dashboard client runs during the window


# Why each workload: see README.md.
WORKLOADS = {
    "ingest": Workload(skew="uniform", client=False),
    "mixed": Workload(skew="recent", client=True),
}

END_TO_END = {
    "setup_s": "s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "query_p50_s": "s",
}
# One timed operation each per run, so they swing with the host from run to
# run: printed with the end-to-end metrics, reported as per-layer metrics.
RATES = {
    "snapshot_rows_per_s": ("engine.snapshot_rows_per_s", "rows/s"),
    "catchup_events_per_s": ("streaming.apply.catchup_events_per_s", "events/s"),
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "engine.snapshot_rows_per_s": "rows/s",
    "engine.backfill_s": "s",
    "engine.backfill_bytes_written": "bytes",
    "streaming.apply.catchup_events_per_s": "events/s",
    "sources.changelog.latest_offset_ms": "ms",
    "streaming.apply.trigger_ms": "ms",
    "streaming.apply.add_batch_ms": "ms",
    "streaming.apply.query_planning_ms": "ms",
    "streaming.apply.wal_commit_ms": "ms",
    "streaming.apply.input_rows_per_batch": "rows",
    "streaming.apply.batches": "count",
    "streaming.apply.queue_wait_s": "s",
    "streaming.apply.apply_batch_s": "s",
    "streaming.apply.touched_buckets": "count",
    "streaming.apply.bytes_written": "bytes",
    "streaming.apply.rows_written_per_event": "ratio",
    "streaming.apply.spark_jobs_per_batch": "count",
    "streaming.apply.manifest_versions": "count",
    "streaming.apply.live_commit_dirs": "count",
    "streaming.apply.space_amplification": "ratio",
    "engine.view_s": "s",
    "dsl.search_build_s": "s",
    "querystring.parse_s": "s",
    "ppl.compile_s": "s",
    "engine.collect_s": "s",
    "engine.spark_jobs_per_query": "count",
    "engine.spark_tasks_per_query": "count",
    "engine.q01_term_s": "s",
    "engine.q03_range_s": "s",
    "engine.q04_bool_qs_s": "s",
    "engine.q05_terms_agg_s": "s",
    "engine.q06_date_hist_s": "s",
    "engine.q07_filtered_counts_s": "s",
    "engine.q08_top_n_s": "s",
    "engine.q10_count_s": "s",
    "engine.q11_time_range_s": "s",
    "engine.ppl_stats_s": "s",
    "engine.sql_group_s": "s",
    "generator.late_max_s": "s",
    "host.loadavg": "load",
}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


@dataclass
class Request:
    rc: object
    params: object
    rid: str
    latency: float
    result: object
    error: str | None
    hwm: int | None  # mirror offset high-water mark the request read, if pinned


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def ddl(schema) -> str:
    return ", ".join(f"{c} {t}" for c, t in schema)


def write_snapshot(path: str, rows: list, schema) -> None:
    """The snapshot table as one parquet file (the "existing rows" the
    backfill captures)."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = []
    for i, (_, kind) in enumerate(schema):
        vals = [r[i] for r in rows]
        if kind == "DECIMAL(12,2)":  # amounts are integer cents
            arr = pa.array([Decimal(v).scaleb(-2) for v in vals], pa.decimal128(12, 2))
        elif kind == "DATE":
            arr = pa.array([dt.date.fromisoformat(v) for v in vals], pa.date32())
        elif kind == "TIMESTAMP":
            arr = pa.array([dt.datetime.fromisoformat(v + "+00:00") for v in vals],
                           pa.timestamp("us", tz="UTC"))
        elif kind == "BIGINT":
            arr = pa.array(vals, pa.int64())
        elif kind == "INT":
            arr = pa.array(vals, pa.int32())
        else:  # BOOLEAN, STRING
            arr = pa.array(vals)
        arrays.append(arr)
    pq.write_table(pa.table(arrays, names=[c for c, _ in schema]), path)


class Mirror:
    """Reads the committed offset high-water mark of a versioned mirror."""

    def __init__(self, sink):
        self.sink = sink

    def state(self) -> tuple[int, int | None]:
        m = self.sink.latest_manifest()
        if m is None:
            return -1, None
        return (m.get("max_seq") or {}).get("offset", -1), m.get("batch_id")


def publish(files, stage: str, watched: str) -> None:
    """Write each file into the staging dir and rename it into the
    watched dir, so the stream never lists a partial file."""
    for f in files:
        tmp = os.path.join(stage, f.name)
        with open(tmp, "wb") as fh:
            fh.write(f.data)
        os.replace(tmp, os.path.join(watched, f.name))


def wait_visible(mirror: Mirror, offset: int, timeout: float) -> bool:
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if mirror.state()[0] >= offset:
            return True
        time.sleep(POLL_S)
    return False


class OpenLoop:
    """Publishes the live files on a fixed schedule (open loop: a slow
    consumer does not slow the producer) and polls the mirror's
    high-water mark to time each file from due to visible."""

    def __init__(self, files, stage, watched, mirror: Mirror):
        self.files = files
        self.stage, self.watched, self.mirror = stage, watched, mirror
        self.due: list[float] = []
        self.due_wall: list[float] = []
        self.visible: dict[int, float] = {}
        self.batch_of: dict[int, int] = {}
        self.late_max = 0.0
        self.done = threading.Event()
        self.stop = threading.Event()

    def start(self, t0: float) -> None:
        wall0 = time.time() - (time.perf_counter() - t0)
        self.due = [t0 + k * FILE_INTERVAL_S for k in range(len(self.files))]
        self.due_wall = [wall0 + k * FILE_INTERVAL_S for k in range(len(self.files))]
        self.gen_thread = threading.Thread(target=self._generate, name="generator")
        self.poll_thread = threading.Thread(target=self._poll, name="poller")
        self.gen_thread.start()
        self.poll_thread.start()

    def _generate(self) -> None:
        for k, f in enumerate(self.files):
            delay = self.due[k] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            publish([f], self.stage, self.watched)
            self.late_max = max(self.late_max, time.perf_counter() - self.due[k])
        self.done.set()

    def _poll(self) -> None:
        nxt = 0
        while nxt < len(self.files) and not self.stop.is_set():
            hwm, batch_id = self.mirror.state()
            now = time.perf_counter()
            while nxt < len(self.files) and self.files[nxt].last_offset <= hwm:
                self.visible[nxt] = now
                self.batch_of[nxt] = batch_id
                nxt += 1
            time.sleep(POLL_S)

    def join(self, timeout: float) -> bool:
        """Wait for every file to be published and seen; False on timeout."""
        self.gen_thread.join()
        self.poll_thread.join(timeout)
        if self.poll_thread.is_alive():
            self.stop.set()
            self.poll_thread.join()
            return False
        return True

    def freshness(self) -> list[float]:
        return [self.visible[k] - self.due[k] for k in sorted(self.visible)]


class Client:
    """One closed-loop dashboard client: the next request is sent when
    the previous result has been collected."""

    def __init__(self, engine, sc, mirror: Mirror, schedule, tracer):
        self.engine, self.sc, self.mirror = engine, sc, mirror
        self.schedule = schedule
        self.tracer = tracer
        self.requests: list[Request] = []
        self.stop = threading.Event()

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def issue(self, rc, params, rid: str) -> Request:
        # the files a request reads are fixed when its frame is built, so
        # an unchanged high-water mark across the build pins its version
        before = after = self.mirror.state()[0]
        error = result = None
        if self.tracer is not None:
            self.sc.setJobGroup(rid, rc.name)
        t = time.perf_counter()
        try:
            with self.span("request", rid=rid, cls=rc.name):
                result = rc.call(self.engine, params)
                after = self.mirror.state()[0]
                if not isinstance(result, int):  # count() is already a number
                    with self.span("engine.collect"):
                        result = result.collect()
        except Exception as exc:  # a raised query is a failed request
            error = f"{rc.name}: {type(exc).__name__}: {exc}"
        latency = time.perf_counter() - t
        req = Request(rc, params, rid, latency, result, error,
                      before if before == after else None)
        self.requests.append(req)
        return req

    def run(self) -> None:
        for k, (rc, params) in enumerate(self.schedule):
            if self.stop.is_set():
                break
            self.issue(rc, params, f"w{k}")

    def start(self) -> None:
        self.thread = threading.Thread(target=self.run, name="client")
        self.thread.start()


def check_requests(requests, inputs, events, outcome: Outcome) -> set:
    """Compare each request whose mirror version is known with the oracle
    over the same rows; return the classes verified."""
    import oracle

    verified: set = set()
    states: dict = {}
    for req in requests:
        if req.error is not None:
            outcome.check(False, req.error)
            continue
        if req.hwm is None:
            outcome.attempted += 1  # a merge committed while it was built
            continue
        if req.hwm not in states:
            states[req.hwm] = [row for row, _ in oracle.replay(
                inputs.at_rows, events, upto=req.hwm).live.values()]
        got = req.rc.normalise(req.result)
        want = req.rc.oracle(states[req.hwm], inputs.card_rows, req.params)
        if outcome.check(got == want, f"{req.rc.name}{req.params!r}: result differs "
                                      "from the oracle"):
            verified.add(req.rc.name)
    return verified


def progress_metrics(progress: list) -> dict:
    """Stream-loop layer metrics from the live query's recentProgress."""
    import stats

    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in data]
        return stats.median(vals) if vals else 0.0

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    listing = [p["durationMs"].get("latestOffset", 0) for p in progress]
    return {
        "sources.changelog.latest_offset_ms": stats.median(listing) if listing else 0.0,
        "streaming.apply.trigger_ms": med("triggerExecution"),
        "streaming.apply.add_batch_ms": med("addBatch"),
        "streaming.apply.query_planning_ms": med("queryPlanning"),
        "streaming.apply.wal_commit_ms": med("walCommit"),
        "streaming.apply.input_rows_per_batch":
            stats.median([p["numInputRows"] for p in data]) if data else 0.0,
        "streaming.apply.batches": len(data),
    }


def queue_waits(loop: OpenLoop, progress: list) -> list[float]:
    """Per file: trigger start of the batch that made it visible minus
    the file's due time."""
    import datetime as dt

    starts = {
        p["batchId"]: dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in progress if p.get("numInputRows", 0) > 0
    }
    return [max(0.0, starts[b] - loop.due_wall[k])
            for k, b in loop.batch_of.items() if b in starts]


def layer_metrics(tracer, probe, loop: OpenLoop, progress, requests, e2e: dict,
                  backfill_s: float, backfill_bytes: int, session_s: float) -> dict:
    import dashboard
    import stats

    def med(xs):
        return stats.median(xs) if xs else 0.0

    live = [b for b in probe.batches if b["phase"] == "live"]
    out = {
        "session.get_spark_s": session_s,
        "engine.backfill_s": backfill_s,
        "engine.backfill_bytes_written": backfill_bytes,
        **{layer: e2e[name] for name, (layer, _) in RATES.items()},
        **progress_metrics(progress),
        "streaming.apply.queue_wait_s": med(queue_waits(loop, progress)),
        "streaming.apply.apply_batch_s": med([b["apply_s"] for b in live]),
        "streaming.apply.touched_buckets": med([b["touched"] for b in live]),
        "streaming.apply.bytes_written": med([b["bytes"] for b in live]),
        "streaming.apply.rows_written_per_event":
            sum(b["rows"] for b in live) / max(1, sum(b["events"] for b in live)),
        "streaming.apply.spark_jobs_per_batch": med([b["jobs"] for b in live]),
        **{f"streaming.apply.{k}": v for k, v in probe.layout().items()},
        "engine.view_s": med(tracer.durations("engine.view")),
        "dsl.search_build_s": med(tracer.self_times("engine.search")),
        "querystring.parse_s": med(tracer.durations("querystring.parse")),
        "ppl.compile_s": med(tracer.durations("engine.ppl")),
        "engine.collect_s": med(tracer.durations("engine.collect")),
    }
    out["engine.spark_jobs_per_query"] = med([r["jobs"] for r in requests])
    out["engine.spark_tasks_per_query"] = med([r["tasks"] for r in requests])
    for rc in dashboard.REQUESTS:
        out[f"engine.{rc.name}_s"] = med([r["latency"] for r in requests
                                          if r["cls"] == rc.name])
    out["generator.late_max_s"] = loop.late_max
    out["host.loadavg"] = os.getloadavg()[0]
    return out


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "input", "stage", "changes"):
        os.makedirs(os.path.join(work, d))
    # keep every temp file of Python, the JVMs and Spark inside the run's dir
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}")))
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    try:
        return measure(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def phase(name: str) -> None:
    print(f"phase {name} {time.perf_counter() - PROCESS_START:.3f}", flush=True)


def measure(args, work: str, tmp: str) -> dict:
    import dashboard
    import gen
    import oracle
    import stats
    from tracing import SinkProbe, Tracer, dir_bytes, job_ids, task_count

    wl = WORKLOADS[args.workload]
    outcome = Outcome()
    tracer = Tracer() if args.trace else None

    inputs = gen.generate(
        args.seed, AT_ROWS, CARD_ROWS, wl.skew, BACKLOG_FILES, EVENTS_PER_S,
        int(args.seconds / FILE_INTERVAL_S), int(EVENTS_PER_S * FILE_INTERVAL_S))
    events = [e for f in inputs.all_files() for e in f.events]

    phase("generated")
    from pyspark.sql import types as T

    from postgres_opensearch_cdc_spark import querystring, session
    from postgres_opensearch_cdc_spark.engine import CdcEngine

    t = time.perf_counter()
    spark = session.get_spark(master=MASTER, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    gateway = sc._gateway
    try:
        phase("session")
        snapshots = {}
        for table, rows, schema in ((dashboard.AT, inputs.at_rows, gen.AT_SCHEMA),
                                    (dashboard.CARD, inputs.card_rows, gen.CARD_SCHEMA)):
            snapshots[table] = os.path.join(work, "input", f"{table}.parquet")
            write_snapshot(snapshots[table], rows, schema)
        engine = CdcEngine(spark, os.path.join(work, "engine"))
        at = engine.register_table(dashboard.AT, T.StructType.fromDDL(ddl(gen.AT_SCHEMA)))
        card = engine.register_table(dashboard.CARD, T.StructType.fromDDL(ddl(gen.CARD_SCHEMA)))
        probe = None
        if tracer is not None:
            for name in ("search", "query_string", "count", "sql", "ppl"):
                tracer.wrap(engine, name, f"engine.{name}")
            tracer.wrap(at.sink, "read", "engine.view")
            tracer.wrap(card.sink, "read", "engine.view")
            tracer.wrap(querystring, "parse_query_string", "querystring.parse")
            probe = SinkProbe(tracer, at.sink, sc)

        # ---- snapshot: capture the existing rows into empty mirrors ----
        # card first: on a fresh JVM it also pays the first merge's compile
        engine.backfill(dashboard.CARD, spark.read.parquet(snapshots[dashboard.CARD]))
        phase("card-backfill")
        t = time.perf_counter()
        engine.backfill(dashboard.AT, spark.read.parquet(snapshots[dashboard.AT]))
        backfill_s = time.perf_counter() - t
        backfill_bytes = dir_bytes(at.sink.path)
        phase("at-backfill")

        # ---- catch-up: a restarted consumer drains the outage backlog ----
        mirror = Mirror(at.sink)
        stage, watched = os.path.join(work, "stage"), os.path.join(work, "changes")
        publish(inputs.backlog, stage, watched)
        if probe is not None:
            probe.phase = "catchup"
        t = time.perf_counter()
        catchup = engine.start_stream(dashboard.AT, watched, available_now=True)
        if probe is not None:
            probe.groups.append(str(catchup.runId))
        catchup.awaitTermination(DRAIN_TIMEOUT_S)
        catchup_s = time.perf_counter() - t
        outcome.check(catchup.exception() is None, f"catch-up failed: {catchup.exception()}")
        outcome.check(mirror.state()[0] == inputs.backlog[-1].last_offset,
                      "catch-up did not drain the backlog")
        backlog_events = sum(len(f.events) for f in inputs.backlog)
        phase("catchup")

        # the live consumer resumes from the catch-up's checkpoint
        query = engine.start_stream(dashboard.AT, watched, available_now=False)
        if probe is not None:
            probe.groups.append(str(query.runId))
            probe.phase = "live"
        client = None
        if wl.client:
            client = Client(engine, sc, mirror,
                            dashboard.schedule(args.seed, CLIENT_SCHEDULE, AT_ROWS),
                            tracer)
        phase("live-start")

        # ---------------- measured window ----------------
        setup_s = time.perf_counter() - PROCESS_START
        loop = OpenLoop(inputs.live, stage, watched, mirror)
        loop.start(time.perf_counter() + 0.05)
        if client is not None:
            client.start()
        loop.done.wait()
        if client is not None:
            client.stop.set()
            client.thread.join()
        drained = loop.join(DRAIN_TIMEOUT_S)
        outcome.check(drained, "live files not visible within the drain timeout")
        progress = list(query.recentProgress)
        outcome.check(query.exception() is None, f"live stream failed: {query.exception()}")
        query.stop()
        phase("drained")

        # ---------------- correctness gate ----------------
        got = engine.sql(oracle.checksum_sql(dashboard.AT)).collect()[0]
        want = oracle.checksum(oracle.replay(inputs.at_rows, events).rows())
        outcome.check((got["n"], got["s"]) == want,
                      f"mirror (rows, checksum) {(got['n'], got['s'])} != oracle {want}")
        phase("checksum")
        window = client.requests if client is not None else []
        checked = check_requests(window, inputs, events, outcome)
        phase("window-checked")
        # then, on the final quiescent mirror: ingest's fixed probe (its
        # query sample) or each class mixed's window did not verify; a traced
        # run also times every other class, after all end-to-end timing
        wanted = PROBE if client is None else dashboard.NAMES - checked
        if tracer is not None:
            wanted = wanted | (dashboard.NAMES - checked)
        final = Client(engine, sc, mirror, [], tracer)
        rng = random.Random(args.seed)
        for k, rc in enumerate(dashboard.REQUESTS):
            params = rc.params(rng, AT_ROWS)
            if rc.name in wanted:
                final.issue(rc, params, f"f{k}")
        checked |= check_requests(final.requests, inputs, events, outcome)
        if client is not None:
            missing = dashboard.NAMES - checked
            outcome.check(not missing, f"request classes never verified: {sorted(missing)}")
        live_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        outcome.attempted += len(live_batches) + 1  # + the catch-up batch
        phase("checked")

        # the window's requests under load; without a client, the probe
        timed = window or [r for r in final.requests if r.rc.name in PROBE]
        fresh = loop.freshness()
        latencies = [r.latency for r in timed]
        e2e = {
            "setup_s": setup_s,
            "snapshot_rows_per_s": AT_ROWS / backfill_s,
            "catchup_events_per_s": backlog_events / catchup_s,
            "freshness_p50_s": stats.median(fresh),
            "freshness_p90_s": stats.percentile(fresh, 0.9),
            "query_p50_s": stats.median(latencies),
        }
        samples = {"freshness": len(fresh), "query": len(latencies),
                   "snapshot": 1, "catchup": 1}
        layers = None
        if tracer is not None:
            reqs = []
            for r in window + final.requests:
                jobs = job_ids(sc, [r.rid])
                reqs.append({"cls": r.rc.name, "latency": r.latency,
                             "jobs": len(jobs), "tasks": task_count(sc, jobs)})
            layers = layer_metrics(tracer, probe, loop, progress, reqs, e2e,
                                   backfill_s, backfill_bytes, session_s)
            tracer.write(os.path.join(ROOT, ".perfbench",
                                      f"spans-{args.workload}-{args.seed}.json"))
        return {"outcome": outcome, "e2e": e2e, "samples": samples, "layers": layers,
                "trigger_ms": [p["durationMs"].get("triggerExecution") for p in live_batches],
                "latencies": latencies}
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:  # the JVM exits once its stdin closes
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args)
    outcome = res["outcome"]
    e2e = res["e2e"]
    units = {**END_TO_END, **{name: unit for name, (_, unit) in RATES.items()}}
    for name, unit in units.items():
        value = e2e[name]
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        print(f"e2e {name} {shown} {unit}")
    for name, n in res["samples"].items():
        print(f"samples {name} {n}")
    print("live batch trigger ms", res["trigger_ms"])
    print("query latencies s", [round(x, 3) for x in res["latencies"]])
    print(f"failed_ratio {outcome.failed / outcome.attempted:.6g} "
          f"({outcome.failed}/{outcome.attempted})")
    for err in outcome.errors:
        print(f"FAILED {err}")
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = outcome.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

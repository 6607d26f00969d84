"""The benchmark's two workloads and the metrics each one reports.

Each workload runs in one process on ``local[nproc]``: generate inputs
from the seed, set up once (import the program, start the session and
with it the driver JVM, ``io.ingest_managed`` for the batch loop, warm
up), measure, then check outputs.

End-to-end metrics, reported by every workload:

- ``setup_s``: the process's one cold set-up, from just before the
  program is imported to the first timed operation: JVM launch, session
  start, managed ingest and the warm-up (one untimed pass of the batch
  loop; a first tick and card read for the stream).  Generating the
  inputs comes before it and is not counted;
- ``pass_s``: batch, one pass over the query list (the sum of each
  query's median latency); stream, one beat of the open loop (a
  pipeline tick plus ``read_cards``);
- ``freshness_p50_s`` / ``freshness_tail_s``: time from an operation's
  due time to its visible result, queue wait included.  Stream: a
  slice's scheduled landing to the ``read_cards`` result that reflects
  it.  Batch: every query of a pass is due when the pass starts, as when
  a dashboard asks for all its panels at once and they run one after
  another; a query is fresh when its result is.  ``tail`` below defines
  the percentile;
- ``peak_rss_mb``: peak RSS (VmHWM) of the driver JVM plus this process.

A query or tick that raises, an oracle or parity mismatch, or a slice
the stream never reflects counts in ``failed`` against ``attempted``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from types import SimpleNamespace

from perfbench import box, gen
from perfbench.trace import NullTracer, Tracer, jobs_between, read_event_log, spark_totals

# Event-core queries (overhead-bound: many short jobs) ...
EVENT_QUERIES = ["c4_event_key_dedup", "flagship_heat_rules", "e2e_pipeline_trace"]
# ... and compute-dense text/vector kernels (operators, Arrow UDFs).
CORPUS_QUERIES = ["x_boilerplate_strip", "x_semantic_decontaminate_idf"]

# The closed loop runs whole passes, so every query gets the same number
# of timed calls: later calls still run faster as the JIT warms, and a
# query cut off with one call fewer would report a slower median.
BATCH_MIN_PASSES = 2

# Stream shape.  Slices land in event-time order, one parquet file each.
# Each slice covers its own 20-minute event-time window, aligned to the
# 10-minute dedup buckets, and carries its own re-sends, so no dedup key
# spans two slices: keep-first-arrival then equals the batch keep-min(ts)
# law even when one micro-batch reads several slices.  Landings and beats
# both run on fixed schedules, so which slices a beat drains is set by
# the clock; a beat that starts late shows as queue wait.
#
# The key skew and the re-send share are assumptions, not measurements:
# the sf0.1 events have uniform users and no re-sends at all (see
# ``gen.events_table``), so nothing in the repository fixes either
# figure.  They stand for an at-least-once feed with a few heavy users.
# The user count is sized so the keyed state outgrows one micro-batch:
# a 400-event slice touches a few hundred of the 20k users.
STREAM_USERS = 20_000
STREAM_ZIPF = 1.1  # assumed
STREAM_SLICE_EVENTS = 400
STREAM_SLICE_MINUTES = 20  # two 10-minute dedup buckets
STREAM_RESEND = 0.05  # assumed: share of a slice's events sent twice
STREAM_INTERVAL_S = 0.4  # seconds between landings: 1000 events/s offered
STREAM_SLICES_PER_BEAT = 16  # a beat (tick + card read) is due every 6.4 s
# A beat's median and the freshness samples need more beats than a short
# ``--seconds`` gives, so the open loop runs at least this many.
STREAM_MIN_BEATS = 5
# A beat's tick may list the dir just after the next slice lands, so its
# file cap allows two beats' worth: one micro-batch per on-time beat.
STREAM_BEAT_MAX_FILES = 2 * STREAM_SLICES_PER_BEAT
STREAM_BACKLOG_SLICES = 32  # drained STREAM_SLICES_PER_BEAT at a time: two micro-batches
MTIME_BASE = 1_700_000_000  # pinned slice mtimes: the file source orders by mtime

E2E_METRICS = {
    "setup_s": "s", "pass_s": "s", "freshness_p50_s": "s",
    "freshness_tail_s": "s", "peak_rss_mb": "MB",
}
STREAM_LAYER_METRICS = {
    "streaming.e2e.catchup_eps": "1/s",
    "streaming.e2e.tick_s": "s",
    "streaming.e2e.read_cards_s": "s",
    "streaming.e2e.query_planning_ms": "ms",
    "streaming.e2e.wal_commit_ms": "ms",
    "streaming.e2e.add_batch_ms": "ms",
    "streaming.source.latest_offset_ms": "ms",
    "streaming.keyed_table.upsert_s": "s",
    "streaming.e2e.facts_append_s": "s",
    "streaming.keyed_table.rows": "count",
    "streaming.e2e.batches": "count",
    "streaming.e2e.facts_dirs": "count",
    "streaming.pipeline.state_rows": "count",
    "streaming.pipeline.state_bytes": "bytes",
    "streaming.pipeline.keep_ratio": "ratio",
    "generator.late_s": "s",
    "generator.backlog_files": "count",
}
COMMON_LAYER_METRICS = {
    "session.start_s": "s",
    "io.ingest_managed_s": "s",
    "warmup_s": "s",
    "traced.pass_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


SPARK_KEYS = (
    ("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks"),
    ("run_s", "spark.executor_run_s"), ("gc_s", "spark.gc_s"),
    ("shuffle_bytes", "spark.shuffle_bytes"), ("spill_bytes", "spark.spill_bytes"),
)


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name and unit, identical for all workloads.

    A workload reports 0 for a query or layer it never calls."""
    out = dict(COMMON_LAYER_METRICS)
    for q in EVENT_QUERIES + CORPUS_QUERIES:
        out[f"q.{q}.jobs"] = "count"
        out[f"q.{q}.wall_s"] = "s"
    out.update(STREAM_LAYER_METRICS)
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, but never below p90 (nearest rank), so a run with
    fewer than 100 samples reports its p90 and a run with fewer than 10
    its maximum."""
    s = sorted(xs)
    i = max(len(s) - 11, math.ceil(0.9 * len(s)) - 1)
    return float(s[i]), 100.0 * (i + 1) / len(s)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    cpus: int
    dir: str
    spark: object = None
    managed: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    rss_mb: dict = field(default_factory=dict)

    def __post_init__(self):
        self.tracer = Tracer(f"{self.workload}-{self.seed}") if self.trace else NullTracer()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def start_session(self) -> None:
        from event_stream_starter_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus, shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.rss_mb = {"jvm": box.peak_rss_mb(jvm_pid), "python": box.peak_rss_mb()}
        return sum(self.rss_mb.values())

    def close(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=60)
        for d in self.managed:
            shutil.rmtree(d, ignore_errors=True)
        if self.trace:
            out = os.path.join(os.path.dirname(os.path.dirname(self.dir)), ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            self.tracer.dump(os.path.join(out, f"spans-{self.workload}-{self.seed}.json"))


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


def setup(run: Run, src_dir: str, ingest: bool = True) -> tuple[float, float]:
    """The cold set-up: import the program, start the session (this
    launches the driver JVM) and, for the batch loop, ingest the inputs
    into managed storage.  The run dir is new, so ingest never finds a
    cached copy.  Returns (session, ingest) seconds."""
    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        from event_stream_starter_spark.io import ingest_managed

        run.start_session()
    t1 = time.perf_counter()
    if not ingest:
        return t1 - t0, 0.0
    with run.tracer.span("io.ingest_managed"):
        run.managed.append(ingest_managed(run.spark, src_dir))
    return t1 - t0, time.perf_counter() - t1


# --------------------------------------------------------------------------
# Closed-loop batch workload
# --------------------------------------------------------------------------


def query_batch(run: Run) -> dict:
    s = run.scale
    events = gen.EventShape(events=_scaled(10_000, s, 500), users=_scaled(1_500, s, 20))
    corpus = gen.CorpusShape(documents=_scaled(500, s, 50), embeddings=_scaled(500, s, 50))
    queries = EVENT_QUERIES + CORPUS_QUERIES
    d = os.path.join(run.dir, "generated")
    gen.write_inputs(d, run.seed, events, corpus, customers=_scaled(150, s, 50))
    session_s, ingest_s = setup(run, d)
    spark = run.spark
    with run.tracer.span("warmup"):
        t0 = time.perf_counter()
        from event_stream_starter_spark.queries import all_queries

        specs = all_queries()
        results, warm_q = {}, {}
        for q in queries:  # the pass checked below doubles as the JIT warm-up
            run.attempted += 1
            warm_q[q] = time.perf_counter()
            try:
                results[q] = specs[q].fn(spark, d).toPandas()
            except Exception as e:  # a failing query is counted, not fatal
                run.fail(f"{q}: {type(e).__name__}: {e}"[:300])
            spark.catalog.clearCache()
            warm_q[q] = time.perf_counter() - warm_q[q]
        warm = time.perf_counter() - t0

    lat: dict[str, list[float]] = {q: [] for q in queries}
    fresh: list[float] = []
    calls: list[tuple[str, str]] = []  # (query, job group)
    sc = spark.sparkContext
    t_begin = time.perf_counter()
    passes = 0
    while passes < BATCH_MIN_PASSES or time.perf_counter() - t_begin < run.seconds:
        passes += 1
        due = time.perf_counter()
        for q in queries:
            run.attempted += 1
            group = f"{q}#{passes}"
            if run.trace:
                sc.setJobGroup(group, q)
            t0 = time.perf_counter()
            try:
                with run.tracer.span("queries.build", query=q):
                    df = specs[q].fn(spark, d)
                with run.tracer.span("queries.exec", query=q):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                run.fail(f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            finally:
                spark.catalog.clearCache()
            done = time.perf_counter()
            lat[q].append(done - t0)
            fresh.append(done - due)
            calls.append((q, group))
    if run.trace:
        sc.setJobGroup("perfbench", "after")

    pass_s = sum(median(lat[q]) for q in queries if lat[q])
    t_val, t_pct = tail(fresh) if fresh else (0.0, 0.0)
    e2e = {
        "setup_s": session_s + ingest_s + warm,
        "pass_s": pass_s,
        "freshness_p50_s": median(fresh),
        "freshness_tail_s": t_val,
        "peak_rss_mb": run.peak_rss_mb(),  # before the check adds its own memory
    }

    # The warm-up's results against each query's DuckDB oracle over the same inputs.
    from tests.oracle_utils import compare, duck_connection

    con = duck_connection(d)
    con.execute("SET threads TO 1")
    for q, pdf in results.items():
        sql = specs[q].oracle
        # compare reads a result through toPandas(); this one is already collected.
        got = SimpleNamespace(toPandas=lambda: pdf)
        bad = compare(got, con, sql) if sql else ([] if len(pdf) else ["no rows"])
        if bad:
            run.fail(f"{q}: {bad[0]}"[:300])
    con.close()

    detail = {
        "passes": passes,
        "samples": {q: len(lat[q]) for q in queries},
        "freshness_tail_pct": t_pct,
        "session_s": session_s,
        "ingest_s": ingest_s,
        "warmup_s": warm,
        "warmup_query_s": warm_q,
        "latency_s": lat,
    }
    layers = None
    if run.trace:
        layers = _batch_layers(run, queries, lat, calls, session_s, ingest_s, warm, pass_s)
    return _result(run, e2e, layers, detail)


def _batch_layers(run, queries, lat, calls, session_s, ingest_s, warm, pass_s) -> dict:
    run.spark.stop()  # flushes the event log
    run.spark = None
    log = read_event_log(os.path.join(run.dir, "eventlog"))
    by_group: dict[str, list] = {}
    for j in log["jobs"]:
        by_group.setdefault(j["group"], []).append(j)
    per_q: dict[str, list[dict]] = {q: [] for q in queries}
    for q, group in calls:
        per_q[q].append(spark_totals(log, by_group.get(group, [])))

    def per_call(name):
        out = {q: [] for q in queries}
        for s in run.tracer.spans:
            if s["name"] == name:
                out[s["query"]].append(s["end"] - s["start"])
        return sum(median(v) for v in out.values())

    m = {
        "session.start_s": session_s,
        "io.ingest_managed_s": ingest_s,
        "warmup_s": warm,
        "traced.pass_s": pass_s,
        "queries.build_s": per_call("queries.build"),
        "queries.exec_s": per_call("queries.exec"),
    }
    for key, name in SPARK_KEYS:
        m[name] = sum(median([t[key] for t in per_q[q]]) for q in queries if per_q[q])
    for q in queries:
        m[f"q.{q}.jobs"] = median([t["jobs"] for t in per_q[q]])
        m[f"q.{q}.wall_s"] = median(lat[q])
    return m


# --------------------------------------------------------------------------
# Open-loop stream workload
# --------------------------------------------------------------------------


class Lander(threading.Thread):
    """Moves pre-staged slice files into the landing dir on a fixed
    schedule, independent of how fast the pipeline drains them."""

    def __init__(self, files: list[tuple[str, str]], t0: float):
        super().__init__(daemon=True)
        self.files = files
        self.t0 = t0
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def scheduled(self, i: int) -> float:
        return self.t0 + i * STREAM_INTERVAL_S

    def run(self) -> None:
        try:
            for i, (src, dst) in enumerate(self.files):
                delay = self.scheduled(i) - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                os.replace(src, dst)
                self.landed.append(time.perf_counter())
        except BaseException as e:  # surfaced by the main thread
            self.error = e


def _window(progress: dict) -> tuple[float, float]:
    """Epoch-second interval of one micro-batch's trigger."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + progress["durationMs"]["triggerExecution"] / 1000.0


def _progress(q) -> list[dict]:
    """The query's micro-batches that read input (no-data batches only
    advance the watermark)."""
    out = [json.loads(p.json) for p in q.recentProgress]
    return [p for p in out if p["numInputRows"] > 0]


def event_stream(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = run.scale
    per_slice = _scaled(STREAM_SLICE_EVENTS, s, 40)
    n_beats = max(STREAM_MIN_BEATS, math.ceil(run.seconds / (STREAM_INTERVAL_S * STREAM_SLICES_PER_BEAT)))
    n_open, n_back = n_beats * STREAM_SLICES_PER_BEAT, STREAM_BACKLOG_SLICES
    slices = gen.stream_slices(
        run.seed, STREAM_SLICES_PER_BEAT + n_open + n_back, per_slice,
        _scaled(STREAM_USERS, s, 200), STREAM_ZIPF, STREAM_SLICE_MINUTES, STREAM_RESEND,
    )
    warm_slices, slices = slices[:STREAM_SLICES_PER_BEAT], slices[STREAM_SLICES_PER_BEAT:]
    src = os.path.join(run.dir, "generated")
    gen.write_inputs(src, run.seed, gen.EventShape(events=1, users=1),
                     gen.CorpusShape(documents=50, embeddings=50), 50)
    pq.write_table(pa.concat_tables(slices), os.path.join(src, "events.parquet"))
    stage, land = os.path.join(run.dir, "stage"), os.path.join(run.dir, "land")
    os.makedirs(stage)
    os.makedirs(land)
    files = []
    for i, t in enumerate(slices):
        p = os.path.join(stage, f"slice_{i:04d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (MTIME_BASE + 10 * i, MTIME_BASE + 10 * i))
        files.append((p, os.path.join(land, f"slice_{i:04d}.parquet")))

    # The stream reads its landing dir, not managed storage: no ingest.
    session_s, ingest_s = setup(run, src, ingest=False)
    from event_stream_starter_spark.queries import pipeline_e2e
    from event_stream_starter_spark.streaming import e2e
    from event_stream_starter_spark.streaming.keyed_table import KeyedParquetTable

    if run.trace:
        run.tracer.wrap(KeyedParquetTable, "upsert_batch", "streaming.keyed_table.upsert")
        run.tracer.wrap(e2e.SurvivorFactsTable, "append_batch", "streaming.e2e.facts_append")
        run.tracer.wrap(pipeline_e2e, "cards_from_state", "queries.build")
    spark = run.spark

    def beat(land_dir, state, ck):
        """One tick of the pipeline, then one card read."""
        run.attempted += 1
        t0 = time.perf_counter()
        with run.tracer.span("streaming.e2e.tick"):
            q, upsert, facts = e2e.start_integrated_pipeline(
                spark, land_dir, state, ck, max_files_per_trigger=STREAM_BEAT_MAX_FILES
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        if q.exception() is not None:
            run.fail(f"tick: {q.exception()}"[:300])
        with run.tracer.span("streaming.e2e.read_cards"):
            cards = e2e.read_cards(upsert, facts)
            with run.tracer.span("queries.exec"):
                if cards is not None:
                    cards.collect()
        t2 = time.perf_counter()
        return q, upsert, facts, t1 - t0, t2 - t0, t2

    # Stream warm-up (part of set-up): one beat over a beat's worth of
    # slices, on a scratch landing dir and state.
    with run.tracer.span("warmup"):
        t0 = time.perf_counter()
        wl = os.path.join(run.dir, "warm_land")
        os.makedirs(wl)
        for i, t in enumerate(warm_slices):
            pq.write_table(t, os.path.join(wl, f"slice_{i:04d}.parquet"))
        beat(wl, os.path.join(run.dir, "warm_state"), os.path.join(run.dir, "warm_ck"))
        warm = time.perf_counter() - t0

    # Open loop: slice i lands at t0 + i*interval; beat k is due half an
    # interval after the last of its slices lands, or when beat k-1 ends.
    state, ck = os.path.join(run.dir, "state"), os.path.join(run.dir, "ck")
    open_since = time.time()
    lander = Lander(files[:n_open], time.perf_counter() + 0.5)
    lander.start()
    # A tick drains every slice landed before its source listed the dir;
    # the rows it read say how many slices that was.
    ends = list(itertools.accumulate(t.num_rows for t in slices))
    reflected: list[float] = []
    ticks, beats, beat_late, progress = [], [], [], []
    for k in range(n_beats):
        last = (k + 1) * STREAM_SLICES_PER_BEAT - 1
        due = lander.scheduled(last) + STREAM_INTERVAL_S / 2
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        beat_late.append(max(0.0, -delay))
        q, upsert, facts, tick_s, beat_s, done = beat(land, state, ck)
        progress += _progress(q)
        rows = sum(p["numInputRows"] for p in progress)
        while len(reflected) < n_open and ends[len(reflected)] <= rows:
            reflected.append(done)
        ticks.append(tick_s)
        beats.append(beat_s)
    lander.join(timeout=60)
    if len(reflected) != n_open or sum(p["numInputRows"] for p in progress) != ends[n_open - 1]:
        run.fail(f"open loop reflected {len(reflected)} of {n_open} slices")
    fresh = [r - lander.scheduled(i) for i, r in enumerate(reflected)]
    late = max(l - lander.scheduled(i) for i, l in enumerate(lander.landed))

    # Catch-up: land the backlog at once, then drain it in one tick.
    for src_p, dst in files[n_open:]:
        os.replace(src_p, dst)
    run.attempted += 1
    t0 = time.perf_counter()
    with run.tracer.span("streaming.e2e.catchup"):
        q, upsert, facts = e2e.start_integrated_pipeline(
            spark, land, state, ck, max_files_per_trigger=STREAM_SLICES_PER_BEAT
        )
        q.awaitTermination()
    drain = time.perf_counter() - t0
    if q.exception() is not None:
        run.fail(f"catch-up tick: {q.exception()}"[:300])
    back_prog = _progress(q)
    progress += back_prog
    backlog_events = sum(p["numInputRows"] for p in back_prog)

    rss = run.peak_rss_mb()  # before the checks add their own memory

    # Parity: streamed end state == batch e2e_pipeline_trace over the same events.
    run.attempted += 1
    got = sorted(tuple(r) for r in e2e.read_cards(upsert, facts).collect())
    from event_stream_starter_spark.queries import all_queries

    want = sorted(tuple(r) for r in all_queries()["e2e_pipeline_trace"].fn(spark, src).collect())
    if got != want:
        run.fail(f"stream cards != batch trace ({len(got)} vs {len(want)} rows)")
    n_batches = len(progress)
    if sum(p["numInputRows"] for p in progress) != ends[-1]:
        run.fail(f"stream read {sum(p['numInputRows'] for p in progress)} of {ends[-1]} rows")

    f_val, f_pct = tail(fresh)
    e2e_m = {
        "setup_s": session_s + warm,
        "pass_s": median(beats),
        "freshness_p50_s": median(fresh),
        "freshness_tail_s": f_val,
        "peak_rss_mb": rss,
    }
    detail = {
        "slices": n_open, "backlog_slices": n_back, "events_per_slice": per_slice,
        "offered_eps": per_slice / STREAM_INTERVAL_S, "beats": len(beats),
        "beat_late_s": beat_late, "beat_s": beats,
        "freshness_tail_pct": f_pct, "generator_late_s": late,
        "session_s": session_s, "warmup_s": warm,
        "catchup_s": drain, "backlog_events": backlog_events,
    }
    layers = None
    if run.trace:
        last = progress[-1]["stateOperators"][0] if progress else {}
        upd = sum(p["stateOperators"][0].get("numRowsUpdated", 0) for p in progress)
        inp = sum(p["numInputRows"] for p in progress)

        def dur(key):
            return median([p["durationMs"].get(key, 0) for p in progress])

        state_rows = upsert.read().count()
        facts_dirs = sum(1 for n in os.listdir(facts.path) if n.startswith("batch="))
        spans = run.tracer.self_times(since=open_since)
        layers = {
            "session.start_s": session_s,
            "io.ingest_managed_s": ingest_s,
            "warmup_s": warm,
            "traced.pass_s": median(beats),
            "streaming.e2e.catchup_eps": backlog_events / drain,
            "streaming.e2e.tick_s": median(ticks),
            "streaming.e2e.read_cards_s": median(run.tracer.durations("streaming.e2e.read_cards", open_since)),
            "streaming.e2e.query_planning_ms": dur("queryPlanning"),
            "streaming.e2e.wal_commit_ms": dur("walCommit"),
            "streaming.e2e.add_batch_ms": dur("addBatch"),
            "streaming.source.latest_offset_ms": dur("latestOffset"),
            "streaming.keyed_table.upsert_s": median(run.tracer.durations("streaming.keyed_table.upsert", open_since)),
            "streaming.e2e.facts_append_s": median(run.tracer.durations("streaming.e2e.facts_append", open_since)),
            "streaming.keyed_table.rows": state_rows,
            "streaming.e2e.batches": n_batches,
            "streaming.e2e.facts_dirs": facts_dirs,
            "streaming.pipeline.state_rows": last.get("numRowsTotal", 0),
            "streaming.pipeline.state_bytes": last.get("memoryUsedBytes", 0),
            "streaming.pipeline.keep_ratio": upd / inp if inp else 0.0,
            "generator.late_s": late,
            "generator.backlog_files": n_back,
            "queries.build_s": median(spans.get("queries.build", [])),
            "queries.exec_s": median(spans.get("queries.exec", [])),
        }
        run.spark.stop()
        run.spark = None
        log = read_event_log(os.path.join(run.dir, "eventlog"))
        per_batch = [spark_totals(log, jobs_between(log, *_window(p))) for p in progress]
        for key, name in SPARK_KEYS:
            layers[name] = median([t[key] for t in per_batch])
    return _result(run, e2e_m, layers, detail)


def _result(run: Run, e2e: dict, layers: dict | None, detail: dict) -> dict:
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_METRICS.items()}
    else:
        units = layer_metrics()
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in units.items()}
        detail["end_to_end_traced"] = e2e
    detail["peak_rss_parts_mb"] = run.rss_mb
    detail["problems"] = run.problems[:20]
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "detail": detail,
    }


WORKLOADS = {
    "query_batch": query_batch,
    "event_stream": event_stream,
}

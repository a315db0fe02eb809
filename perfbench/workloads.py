"""The three closed-loop workloads, each with one client.

A workload object is built before the clock starts (inputs generated or
reused from the seed cache), then ``warm`` runs on separate input into a
separate sink in the same JVM, ``measure`` runs the fixed amount of work
that is timed, and ``check`` compares the outputs with an independent
derivation outside the clock. Every call into the package is a public
function, made from outside the package.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time

import inputs
from probes import drift, frame_digest, median, percentile

# Fixed work per run, derived from --seconds so that the parent and a
# change always do the same work: triggers (streaming) or query calls
# (query-mix). The rates are about what this code sustains on a 4-core
# box, so a run measures for roughly --seconds there.
DETECT_FRAMES_PER_TRIGGER = 32
DETECT_TRIGGERS_PER_SECOND = 1 / 4
DETECT_WARM_TRIGGERS = 1
EVENTS_PER_FILE = 2000
EVENTS_TRIGGERS_PER_SECOND = 1
EVENTS_WARM_TRIGGERS = 2
QUERIES_PER_SECOND = 1

QUERY_WARM_PASSES = 2

# query-mix: three of bench.py's HEADLINE queries, one per kind of plan
# (scan and aggregate, multi-join, window). All 28 do not fit the time
# budget: a fresh JVM spends 1-3 s compiling each one.
QUERY_SUBSET = [
    "q02_agg_pricing_summary",
    "q03_multijoin_region_counts",
    "q06_window_rank_top3",
]

# latency_tail_s is the upper quartile: at --seconds 9 a run has 9
# triggers (events-window) or 9 queries (query-mix), 2 of them beyond
# p75, and detect-ingest's p75 of 3 triggers lies between its two
# slowest. More units do not fit the time budget.
TAIL_PCT = 75.0

STREAM_TIMEOUT_S = 150


class ProgressLog:
    """StreamingQueryListener that keeps every progress event (per-trigger
    phases and state store) of each streaming query, by query name."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                log._progress(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                log._terminated(str(event.id))

        self.listener = _Listener()
        self.by_name: dict[str, list[dict]] = {}
        self.ids: dict[str, str] = {}
        self.done: set[str] = set()
        self._cv = threading.Condition()

    def _progress(self, p) -> None:
        state = [
            {
                "instances": s.numStateStoreInstances,
                "rows_total": s.numRowsTotal,
                "memory_bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
            }
            for s in p.stateOperators
        ]
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "state": state,
        }
        with self._cv:
            self.ids[p.name] = str(p.id)
            self.by_name.setdefault(p.name, []).append(rec)

    def _terminated(self, qid: str) -> None:
        with self._cv:
            self.done.add(qid)
            self._cv.notify_all()

    def wait(self, name: str, timeout: float = 60.0) -> list[dict]:
        """Progress of the finished query ``name``, once its termination
        event has arrived (the listener bus delivers events in order, so
        every progress event is in by then)."""
        with self._cv:
            self._cv.wait_for(lambda: self.ids.get(name) in self.done, timeout)
            prog = [p for p in self.by_name.get(name, []) if p["rows"] > 0]
        return sorted(prog, key=lambda p: p["batch"])


TRIGGER_PHASES = ["latestOffset", "getBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "addBatch"]


def _trigger_layers(progress: list[dict]) -> dict:
    out = {
        f"trigger.{k}_s": median([p["duration_ms"].get(k, 0) / 1000.0 for p in progress])
        for k in TRIGGER_PHASES
    }
    out["trigger.count"] = float(len(progress))
    out["trigger.drift"] = drift([p["duration_ms"]["triggerExecution"] for p in progress])
    states = [p["state"][0] for p in progress if p["state"]]
    last = states[-1] if states else {}
    out["state.instances"] = float(last.get("instances", 0))
    out["state.rows_total"] = float(last.get("rows_total", 0))
    out["state.memory_mb"] = last.get("memory_bytes", 0) / 2**20
    out["state.commit_s"] = median([s["commit_ms"] / 1000.0 for s in states])
    return out


def _record_triggers(tracer, progress: list[dict]) -> None:
    """Trigger spans from Spark's own phase timings (one id per trigger)."""
    for p in progress:
        end = _iso_to_perf(p["timestamp"]) + p["duration_ms"]["triggerExecution"] / 1000.0
        start = _iso_to_perf(p["timestamp"])
        tracer.add("trigger", start, end, unit=p["batch"])
        for k in TRIGGER_PHASES:
            if k in p["duration_ms"]:
                tracer.add(f"trigger.{k}", start, start + p["duration_ms"][k] / 1000.0,
                           unit=p["batch"])


def _iso_to_perf(ts: str) -> float:
    """Progress timestamps are wall-clock ISO strings; map them onto the
    perf_counter timeline the benchmark's own spans use."""
    from datetime import datetime

    wall = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    return wall - time.time() + time.perf_counter()


def _job_count(spark) -> int:
    """Spark jobs run so far, read from the status store once the
    listener bus has delivered every event to it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    return sc.statusStore().jobsList(spark._jvm.java.util.ArrayList()).size()


# ------------------------------------------------------------------ base
class Workload:
    name = ""

    def __init__(self, paths: dict, seed: int, seconds: int, tracer) -> None:
        self.paths = paths
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.work_units = 0  # frames, events or queries completed
        self.phase_s = 0.0

    def fresh(self, name: str) -> str:
        path = os.path.join(self.paths["run"], name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def prepare(self) -> None:
        """Generate (or reuse) inputs; runs before the session starts."""

    def warm(self, spark) -> None:
        raise NotImplementedError

    def measure(self, spark, log: ProgressLog) -> None:
        raise NotImplementedError

    def check(self, spark) -> bool:
        raise NotImplementedError

    def stats(self) -> dict:
        xs = self.latencies
        return {"p50": median(xs), "tail": percentile(xs, TAIL_PCT), "n": len(xs)}


# --------------------------------------------------------- detect-ingest
class DetectIngest(Workload):
    """File stream of planted-rectangle frames → tiny conv model →
    threshold → pixel boxes → labels → per-epoch merge_into a versioned
    table with an idempotency key per epoch."""

    name = "detect-ingest"

    def prepare(self) -> None:
        self.n_triggers = max(3, round(DETECT_TRIGGERS_PER_SECOND * self.seconds))
        self.frames = inputs.frame_files(
            self.paths["cache"], self.seed, self.n_triggers, DETECT_FRAMES_PER_TRIGGER, "run"
        )
        self.warm_frames = inputs.frame_files(
            self.paths["cache"], self.seed, DETECT_WARM_TRIGGERS, DETECT_FRAMES_PER_TRIGGER,
            "warm",
        )

    def _loader(self, spark):
        from video_streamer_spark.functions.shipping import ship_module
        from video_streamer_spark.operators import npmodel

        # infer_detections ships only its own module; the model's module
        # must be shipped by the caller or workers started outside the
        # repo fail with ModuleNotFoundError
        ship_module(npmodel)
        if not self.tracer.enabled:
            return npmodel.load_tiny_conv
        ship_module(sys.modules[__name__])  # the timing closure below
        self.model_calls = spark.sparkContext.accumulator(0)
        self.model_s = spark.sparkContext.accumulator(0.0)
        calls, secs = self.model_calls, self.model_s

        def timed_loader():
            model = npmodel.load_tiny_conv()

            def timed(payload, fid):
                t0 = time.perf_counter()
                out = model(payload, fid)
                secs.add(time.perf_counter() - t0)
                calls.add(1)
                return out

            return timed

        return timed_loader

    def _run(self, spark, frames_dir: str, tag: str) -> str:
        from pyspark.sql.types import BinaryType, LongType, StructField, StructType

        from video_streamer_spark.operators import detections as D
        from video_streamer_spark.operators import table_format as T
        from video_streamer_spark.operators.inference import infer_detections
        from video_streamer_spark.sources.labels import labels
        from video_streamer_spark.streaming.drain import drain_or_raise
        from video_streamer_spark.streaming.pipeline import stream_dir

        table, ckpt = self.fresh(f"{tag}/table"), self.fresh(f"{tag}/ckpt")
        schema = StructType(
            [StructField("frame_id", LongType()), StructField("payload", BinaryType())]
        )
        stream = stream_dir(spark, frames_dir, schema, max_files_per_trigger=1)
        det = infer_detections(stream, model_loader=self._loader(spark))
        boxes = D.with_labels(
            D.scale_boxes(D.threshold_filter(det, inputs.DETECT_THRESHOLD), width=1, height=1),
            labels(spark),
        )
        T.create_table(
            spark.createDataFrame([], boxes.schema), table, ["frame_id", "box_idx"],
            n_buckets=8,
        )
        tracer = self.tracer
        jobs = self.merge_jobs = []

        def sink(batch_df, epoch_id):
            before = _job_count(spark) if tracer.enabled else 0
            with tracer.span("sink.merge", epoch_id):
                T.merge_into(
                    batch_df.sparkSession, table, batch_df,
                    when_not_matched_insert="all",
                    idempotency_key=f"{ckpt}:ins:{epoch_id}",
                )
            if tracer.enabled:
                jobs.append(_job_count(spark) - before)

        q = (
            boxes.writeStream.foreachBatch(sink)
            .queryName(f"detect_{tag}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, STREAM_TIMEOUT_S, f"detect-ingest {tag}")
        return table

    def warm(self, spark) -> None:
        self._run(spark, self.warm_frames, "warm")

    def measure(self, spark, log: ProgressLog) -> None:
        self.attempted = self.n_triggers
        t0 = time.perf_counter()
        self.table = self._run(spark, self.frames, "run")
        self.phase_s = time.perf_counter() - t0
        self.progress = log.wait("detect_run")
        self.latencies = [p["duration_ms"]["triggerExecution"] / 1000.0 for p in self.progress]
        self.work_units = sum(p["rows"] for p in self.progress)
        _record_triggers(self.tracer, self.progress)

    def check(self, spark) -> bool:
        """Per trigger: the table's rows for that trigger's frames equal
        the rows derived from the planted bounds; and no other rows."""
        import pandas as pd

        from video_streamer_spark.operators import table_format as T

        got = T.read_table(spark, self.table).toPandas()
        self.failed = self.attempted - len(self.progress)
        n_want = 0
        for f in sorted(f for f in os.listdir(self.frames) if f.endswith(".parquet")):
            fids = pd.read_parquet(os.path.join(self.frames, f), columns=["frame_id"])["frame_id"]
            want = inputs.expected_detections(fids, inputs.DETECT_THRESHOLD)
            want["label_name"] = "label_" + want["label_id"].astype(str)
            n_want += len(want)
            if frame_digest(got[got["frame_id"].isin(set(fids))]) != frame_digest(want):
                self.failed += 1
        if len(got) != n_want:
            self.failed = max(self.failed, 1)
        return self.failed == 0

    def trace_layers(self, spark) -> dict:
        from video_streamer_spark.operators import table_format as T

        out = _trigger_layers(self.progress)
        merges = self.tracer.durations("sink.merge")[-len(self.progress):]
        frames = self.work_units or 1
        out["inference.model_s"] = self.model_s.value
        out["inference.calls_per_frame"] = self.model_calls.value / frames
        out["sink.merge_s"] = median(merges)
        out["sink.jobs"] = median([float(j) for j in self.merge_jobs])
        out["sink.merge_drift"] = drift(merges)
        out["store.versions"] = float(T.current_version(self.table))
        n, size = 0, 0
        for d, _, fs in os.walk(self.table):
            for f in fs:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        out["store.files"] = float(n)
        out["store.mb"] = size / 2**20
        return out


# --------------------------------------------------------- events-window
class EventsWindow(Workload):
    """Seeded event files, 10% out of order, drained one file per trigger
    through tumbling_stream (q14's twin) by run_available_now."""

    name = "events-window"

    def prepare(self) -> None:
        self.n_triggers = max(4, round(EVENTS_TRIGGERS_PER_SECOND * self.seconds))
        self.events = inputs.event_files(
            self.paths["cache"], self.seed, self.n_triggers, EVENTS_PER_FILE, "run"
        )
        self.warm_events = inputs.event_files(
            self.paths["cache"], self.seed, EVENTS_WARM_TRIGGERS, EVENTS_PER_FILE, "warm"
        )

    def _run(self, spark, events_dir: str, sink: str) -> str:
        from video_streamer_spark.streaming.pipeline import (
            run_available_now,
            stream_dir,
            tumbling_stream,
        )

        stream = stream_dir(spark, events_dir, inputs.EVENT_SCHEMA_DDL, max_files_per_trigger=1)
        run_available_now(tumbling_stream(stream), sink, timeout_sec=STREAM_TIMEOUT_S)
        return sink

    def warm(self, spark) -> None:
        self._run(spark, self.warm_events, "ew_warm")

    def measure(self, spark, log: ProgressLog) -> None:
        self.attempted = self.n_triggers
        t0 = time.perf_counter()
        self.sink = self._run(spark, self.events, "ew_run")
        self.phase_s = time.perf_counter() - t0
        self.progress = log.wait(self.sink)
        self.latencies = [p["duration_ms"]["triggerExecution"] / 1000.0 for p in self.progress]
        self.work_units = sum(p["rows"] for p in self.progress)
        _record_triggers(self.tracer, self.progress)

    def check(self, spark) -> bool:
        from video_streamer_spark.queries.temporal import tumbling_agg

        got = spark.table(self.sink).toPandas()
        batch = spark.read.schema(inputs.EVENT_SCHEMA_DDL).parquet(self.events)
        want = tumbling_agg(batch).toPandas()
        self.failed = self.attempted - len(self.progress)
        if frame_digest(got) != frame_digest(want):
            self.failed = self.attempted
        return self.failed == 0

    def trace_layers(self, spark) -> dict:
        return _trigger_layers(self.progress)


# ------------------------------------------------------------- query-mix
class QueryMix(Workload):
    """One client runs passes over QUERY_SUBSET, each pass in a
    seed-shuffled order, over sf0.1 and materialises every result with
    toPandas."""

    name = "query-mix"

    def prepare(self) -> None:
        self.data = inputs.query_tables(self.paths["cache"])
        self.oracle = inputs.oracle_digests(self.data, QUERY_SUBSET)
        rng = random.Random(self.seed)
        n_passes = max(2, round(QUERIES_PER_SECOND * self.seconds / len(QUERY_SUBSET)))
        self.order = []
        for _ in range(n_passes):
            names = list(QUERY_SUBSET)
            rng.shuffle(names)
            self.order.extend(names)

    def warm(self, spark) -> None:
        """Passes over the same data: the first pays each query's cold
        compile and the catalog's first read of the dataset's files."""
        from video_streamer_spark.queries import QUERIES

        for _ in range(QUERY_WARM_PASSES):
            for name in QUERY_SUBSET:
                QUERIES[name](spark, self.data).toPandas()

    def measure(self, spark, log: ProgressLog) -> None:
        from video_streamer_spark.queries import QUERIES

        traced = self.tracer.enabled
        sc = spark.sparkContext
        self.attempted = len(self.order)
        self.digests = []
        self.layer_samples = {k: [] for k in ("construct", "plan", "execute", "jobs",
                                               "tasks", "shuffle_mb")}
        check_s = 0.0
        t_phase = time.perf_counter()
        for i, name in enumerate(self.order):
            try:
                if traced:
                    pdf = self._traced_query(spark, sc, i, name)
                else:
                    t0 = time.perf_counter()
                    pdf = QUERIES[name](spark, self.data).toPandas()
                    self.latencies.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                print(f"# query-mix: {name} failed: {exc!r}"[:400], file=sys.stderr)
                self.digests.append((name, None))
                continue
            t1 = time.perf_counter()
            self.digests.append((name, frame_digest(pdf)))
            del pdf
            check_s += time.perf_counter() - t1
        self.phase_s = time.perf_counter() - t_phase - check_s
        self.work_units = len(self.latencies)

    def _traced_query(self, spark, sc, i: int, name: str):
        from video_streamer_spark.plans.metrics import shuffle_bytes
        from video_streamer_spark.queries import QUERIES

        group = f"perfbench-q{i}"
        sc.setJobGroup(group, name)
        box = {}
        with self.tracer.span("query", i):
            t0 = time.perf_counter()
            with self.tracer.span("query.construct", i):
                df = QUERIES[name](spark, self.data)
            t1 = time.perf_counter()
            with self.tracer.span("query.plan", i):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()

            def run():
                # timed inside: shuffle_bytes drains the listener bus
                # before and after calling this
                t = time.perf_counter()
                with self.tracer.span("query.execute", i):
                    box["pdf"] = df.toPandas()
                box["execute"] = time.perf_counter() - t

            shuffle = shuffle_bytes(spark, run)
        sc.setJobGroup("perfbench-idle", "idle")
        self.latencies.append(t2 - t0 + box["execute"])
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        s = self.layer_samples
        s["construct"].append(t1 - t0)
        s["plan"].append(t2 - t1)
        s["execute"].append(box["execute"])
        s["jobs"].append(len(jobs))
        s["tasks"].append(tasks)
        s["shuffle_mb"].append(shuffle / 2**20)
        return box["pdf"]

    def check(self, spark) -> bool:
        self.failed = sum(1 for name, d in self.digests if d != self.oracle[name])
        for name, d in self.digests:
            if d != self.oracle[name]:
                print(f"# query-mix: {name} result {d} != oracle {self.oracle[name]}",
                      file=sys.stderr)
        return self.failed == 0

    def trace_layers(self, spark) -> dict:
        s = self.layer_samples
        mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
        out = {}
        out["query.construct_s"] = mean(s["construct"])
        out["query.plan_s"] = mean(s["plan"])
        out["query.execute_s"] = mean(s["execute"])
        out["query.jobs"] = mean(s["jobs"])
        out["query.tasks"] = mean(s["tasks"])
        out["query.shuffle_mb"] = mean(s["shuffle_mb"])
        return out


WORKLOADS = {w.name: w for w in (DetectIngest, EventsWindow, QueryMix)}

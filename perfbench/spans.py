"""Spans and Spark counters, recorded from outside the program.

The traced run wraps the public functions of each layer (monkeypatched
here, never edited in the program) in spans. A span records its name,
start, end, parent span and run id. While a span is open its Spark job
group is ``<run id>:<span id>``, set on the calling thread, which for
``structured`` is the ``foreachBatch`` thread. After the run the status
store (``sc._jsc.sc().statusStore()``) is read once and every job is
charged to the span whose group it carries, so each span also gets the
jobs, stages, tasks, executor time and bytes it launched. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import gc
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

# status-store stage field -> (counter name, scale to report unit)
STAGE_COUNTERS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("inputBytes", "input_bytes", 1),
    ("outputBytes", "output_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
)
COUNTER_NAMES = ("jobs", "stages", "tasks") + tuple(
    dict.fromkeys(name for _, name, _ in STAGE_COUNTERS)
)


class StatusStore:
    """Jobs and stages of this application from the driver's status
    store, serialized to JSON on the JVM side (one py4j call per list
    instead of one per field)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        # Spark 4 has only the 5-argument stageList: statuses, details,
        # withSummaries, quantiles, task statuses
        raw = self._store.stageList(self._empty, False, False, self._no_quantiles, self._empty)
        out: dict[int, dict] = {}
        for s in json.loads(self._mapper.writeValueAsString(raw)):
            if s["status"] != "COMPLETE":
                continue  # skipped stages did no work; failed attempts retried
            prev = out.get(s["stageId"])
            if prev is None:
                out[s["stageId"]] = dict(s)
            else:  # retried stage: sum the attempts
                for key, _, _ in STAGE_COUNTERS:
                    prev[key] += s[key]
                prev["numCompleteTasks"] += s["numCompleteTasks"]
        return out


def counters(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Totals over ``jobs``. A stage listed by several jobs (a reused
    shuffle) is charged to the first of them only."""
    out = dict.fromkeys(COUNTER_NAMES, 0)
    out["jobs"] = len(jobs)
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            s = stages.get(sid)
            if s is None or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            for key, name, scale in STAGE_COUNTERS:
                out[name] += s[key] * scale
    return out


def jobs_between(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    """Jobs submitted within wall-clock window [t0, t1] (seconds since
    the epoch; the status store stamps milliseconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    return [j for j in jobs if lo <= j["submissionTime"] <= hi]


class Tracer:
    """Span recorder. ``wrap`` patches a function or method so every
    call opens a span; spans are kept only while ``active``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.active = False
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """One span; its job group holds for the calling thread until it
        ends. A span opened on a thread with no open span (the
        ``foreachBatch`` thread) is parented to the root span."""
        if not self.active:
            yield {}
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else self._root,
            "run": self.run_id,
            "thread": threading.current_thread().name,
            **attrs,
        }
        if not stack and self._root is None:
            self._root = sid
        rec["root"] = self._root
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"{self.run_id}:{sid}", name)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            if rec["id"] == self._root:
                self._root = None
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Patch ``owner.attr`` so each call runs in span ``name``;
        ``after(span, args, kwargs, result)`` may add fields to it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def attribute(self, jobs: list[dict], stages: dict[int, dict]) -> None:
        """Charge each job to the span whose group it carries; add each
        span's own (``self``) and inclusive (``incl``) counters and its
        self time."""
        prefix = f"{self.run_id}:"
        own: dict[int, list[dict]] = defaultdict(list)
        for job in jobs:
            group = job.get("jobGroup") or ""
            if group.startswith(prefix):
                own[int(group[len(prefix) :])].append(job)
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def incl_jobs(s: dict) -> list[dict]:
            out = list(own.get(s["id"], ()))
            for c in children[s["id"]]:
                out.extend(incl_jobs(c))
            return out

        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self_s"] = s["dur"] - sum(c["end"] - c["start"] for c in children[s["id"]])
            s["self"] = counters(own.get(s["id"], []), stages)
            s["incl"] = counters(incl_jobs(s), stages)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def span_totals(spans: list[dict], name: str) -> dict[str, float]:
    """Busy time, call count and inclusive counters summed over every
    span called ``name``."""
    sel = [s for s in spans if s["name"] == name]
    out = {"s": sum(s["dur"] for s in sel), "n": len(sel), "self_s": sum(s["self_s"] for s in sel)}
    for key in COUNTER_NAMES:
        out[key] = sum(s["incl"][key] for s in sel)
    return out


@contextmanager
def traced_region(tracer, name: str):
    """Record program spans only inside this region (a workload's
    set-up or timed region), under one root span ``name``."""
    if tracer is None:
        yield
        return
    tracer.active = True
    try:
        with tracer.span(name):
            yield
    finally:
        tracer.active = False


def settle(spark) -> int:
    """Collect garbage in Python and in the driver JVM (a full GC), so
    it is not collected inside the next measured op. Returns the JVM
    heap in use right after."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()


def live_heap(spark) -> int:
    """The driver JVM's live heap. Spark frees unpersisted blocks, and
    (through its context cleaner, once a GC has cleared what referenced
    them) the broadcast and shuffle blocks of dropped DataFrames, on
    other threads, so one GC leaves a timing-dependent part of them
    behind: collect at least three times, until the heap in use stops
    falling."""
    readings = [settle(spark)]
    while len(readings) < 8 and (len(readings) < 3 or readings[-1] < 0.99 * readings[-2]):
        time.sleep(0.3)
        readings.append(settle(spark))
    return readings[-1]


def span_or_nothing(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else nullcontext({})


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def install_program_spans(tracer: Tracer, spark):
    """Wrap the public calls of the three IVM layers in spans: epoch
    loops (``streaming.runner``, ``streaming.structured``), snapshot /
    diff / sink path (``sinks.writer``, ``sinks.dbapi``). Returns the
    listener that collects ``structured`` trigger durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    from actyxos_data_flow_spark.sinks import dbapi, writer
    from actyxos_data_flow_spark.streaming import runner, structured

    wrap = tracer.wrap
    wrap(runner, "batch_bounds", "runner.batch_bounds")
    wrap(runner.IncrementalRunner, "run_batch", "runner.run_batch")
    wrap(runner.IncrementalAggRunner, "run_batch", "aggrunner.run_batch")

    def delta_rows(rec, args, kwargs, out):
        rec["rows"] = sum(out.values())

    # runner and structured hold their own reference to write_snapshots
    for mod in (writer, runner, structured):
        wrap(mod, "write_snapshots", "writer.write_snapshots", after=delta_rows)

    def traced_collect(rec, args, kwargs, delta):
        # snapshot_delta only builds the diff plan (and reads the mirror
        # pointer); the diff runs when write_snapshots collects the
        # delta, on this same DataFrame (persist returns it)
        collect = delta.collect

        def collect_in_span():
            if not tracer.active:
                return collect()
            with tracer.span("writer.delta_collect") as span:
                rows = collect()
                span["rows"] = len(rows)
                return rows

        delta.collect = collect_in_span

    wrap(writer, "snapshot_delta", "writer.snapshot_delta", after=traced_collect)
    wrap(writer.SnapshotMirror, "read_previous", "writer.mirror_read")

    def written_bytes(rec, args, kwargs, out):
        mirror, table, _snapshot, epoch = args[:4]
        rec["bytes"] = _du(mirror._dir(table, epoch))

    wrap(writer.SnapshotMirror, "write", "writer.mirror_write", after=written_bytes)
    wrap(writer.SnapshotMirror, "prune", "writer.prune")

    def applied_rows(rec, args, kwargs, out):
        deltas = args[1] if len(args) > 1 else kwargs["deltas"]
        rec["rows"] = sum(len(batch) for batch in deltas.values())

    wrap(dbapi.DbapiSink, "advance_offsets", "dbapi.advance_offsets", after=applied_rows)
    wrap(dbapi.DbapiSink, "read_offsets", "dbapi.read_offsets")
    wrap(dbapi.DbapiSink, "mirror_epoch", "dbapi.mirror_epoch")

    make_handler = structured._foreach_batch_handler

    def traced_handler(*args, **kwargs):
        handle = make_handler(*args, **kwargs)

        def add_batch(batch_df, batch_id):
            with tracer.span("structured.add_batch", batch_id=batch_id):
                handle(batch_df, batch_id)

        return add_batch

    structured._foreach_batch_handler = traced_handler
    tracer._patches.append((structured, "_foreach_batch_handler", make_handler))

    class TriggerDurations(StreamingQueryListener):
        def __init__(self):
            self.ms: list[int] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            # delivered asynchronously, possibly after the traced region
            # closed; the catch-up is the only streaming query a run starts
            self.ms.append(event.progress.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    listener = TriggerDurations()
    spark.streams.addListener(listener)
    return listener


# spans whose busy time and counters the per-layer metrics report, as
# "<span name>.<s|jobs|stages|self_s|epochs>"
TIMED_SPANS = (
    "runner.batch_bounds",
    "runner.run_batch",
    "aggrunner.run_batch",
    "writer.write_snapshots",
    "writer.snapshot_delta",
    "writer.delta_collect",
    "writer.mirror_read",
    "writer.mirror_write",
    "writer.prune",
    "dbapi.advance_offsets",
    "dbapi.read_offsets",
    "dbapi.mirror_epoch",
    "plans.build",
    "plans.exec",
)


def layer_metrics(names, spans: list[dict], out: dict, progress, run_counters: dict, noise: dict) -> dict:
    """Each per-layer metric in ``names`` for one traced run; a layer the
    workload does not exercise reads 0. ``structured.*`` come from the
    set-up (the catch-up phase), everything else from the timed region."""
    m = dict.fromkeys(names, 0.0)
    roots = {s["name"].rsplit(".", 1)[-1]: s["id"] for s in spans if s["parent"] is None}
    setup = [s for s in spans if s["root"] == roots.get("setup")]
    spans = [s for s in spans if s["root"] == roots.get("timed")]
    for name in TIMED_SPANS:
        t = span_totals(spans, name)
        t["epochs"] = t["n"]
        for field in ("s", "jobs", "stages", "self_s", "epochs"):
            if f"{name}.{field}" in m:
                m[f"{name}.{field}"] = t[field]

    m["structured.add_batch.s"] = span_totals(setup, "structured.add_batch")["s"]
    by_parent = defaultdict(list)
    for s in setup:
        by_parent[s["parent"]].append(s)
    m["structured.stage_reread.s"] = sum(
        s["dur"] - sum(c["dur"] for c in by_parent[s["id"]] if c["name"] == "writer.write_snapshots")
        for s in setup
        if s["name"] == "structured.add_batch"
    )
    if progress is not None and m["structured.add_batch.s"]:
        progress.terminated.wait(5)  # listener events arrive asynchronously
        m["structured.trigger.s"] = sum(progress.ms) / 1000.0
    m["writer.mirror_write.bytes"] = sum(s.get("bytes", 0) for s in spans if s["name"] == "writer.mirror_write")
    m["writer.delta_rows"] = sum(s.get("rows", 0) for s in spans if s["name"] == "writer.write_snapshots")
    if out.get("events"):
        m["writer.delta_rows_per_event"] = m["writer.delta_rows"] / out["events"]
    adv = [s for s in spans if s["name"] == "dbapi.advance_offsets"]
    m["dbapi.advance_offsets.rows"] = sum(s.get("rows", 0) for s in adv)
    if m["dbapi.advance_offsets.s"]:
        m["dbapi.advance_offsets.rows_per_s"] = m["dbapi.advance_offsets.rows"] / m["dbapi.advance_offsets.s"]
    for s in spans:
        if s["name"] == "plans.query":
            m[f"plans.{s['module']}.s"] += s["dur"]
    for key in COUNTER_NAMES:
        m[f"spark.{key}"] = run_counters[key]
    for key, value in out["layer"].items():
        m[key] = value
    for key in ("host.steal_pct", "host.iowait_pct", "host.loadavg_1m"):
        m[key] = noise[key]
    return m

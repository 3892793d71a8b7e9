"""The ``ivm_live`` workload: the reference runner's lifecycle, catch-up
then live, over a seeded event log (``gen.event_log``) into SQLite.

Set-up (counted in ``setup_s``):

- catch-up: ``structured.run_available_now`` drains the head of the
  history, one log file in one micro-batch, materializing e1
  (dashboard) and e2 (usage intervals) in one Union transaction;
- bulk history: ``IncrementalRunner(e1)`` commits the rest of the
  history in one epoch, and the aggregate runner (per-key purchase
  total) the whole history in one epoch. These epochs run the plans
  the live ticks run, so the timed region starts with them compiled.

Timed region: new events become visible at ``LIVE_RATE`` events/s on a
schedule fixed by wall time (open loop: a slow tick does not slow
arrivals). One single-threaded loop drives ``IncrementalRunner(e1)``
(resuming from the catch-up's sink, offsets and mirror) and
``IncrementalAggRunner`` whenever events are pending.

Afterwards every sink table is compared, as a multiset, with a
from-scratch DuckDB recompute of its view over the prefix it reflects,
and each offsets row with the committed head.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

import gen
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the e1/e2 view pipelines as DataFrame -> DataFrame functions, with
# their sink tables, are the runnable examples' (same pipelines as the
# registry rows e1_dashboard / e2_usage_intervals)
sys.path.insert(0, os.path.join(ROOT, "examples"))

import machine_dashboard  # noqa: E402
import machine_usage  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from actyxos_data_flow_spark.plans.reference import E1_ORACLE, E2_ORACLE  # noqa: E402
from actyxos_data_flow_spark.sinks import DbColumn, DbTable, SqliteSink  # noqa: E402
from actyxos_data_flow_spark.sources import load_table  # noqa: E402
from actyxos_data_flow_spark.sources.tables import _ts_as_long_nanos  # noqa: E402
from actyxos_data_flow_spark.streaming import runner as runner_mod  # noqa: E402
from actyxos_data_flow_spark.streaming import structured  # noqa: E402

# History size: the e1 epoch recomputes the view over the whole prefix,
# so its cost grows with the history; at this size that growth is a
# large share of an epoch (see README.md, "History size").
HISTORY = 300_000
KEYS = HISTORY // 10
# the head of the history that the structured catch-up drains in one
# micro-batch; the rest goes in through one runner epoch, which sets up
# far faster than the same events through the structured path
STREAM_EVENTS = 20_000
STREAM_HEAD = STREAM_EVENTS - 1
LIVE_RATE = 100.0  # events/s
EVENTS_PER_TXN = 1000  # the reference runner's default commit unit

DASH = machine_dashboard.TABLE
USAGE = machine_usage.TABLE
TOTALS = DbTable(
    name="purchase_totals",
    columns=(
        DbColumn("user_id", "bigint"),
        DbColumn("total_cents", "bigint"),
        DbColumn("_n", "bigint"),
    ),
)
TOTALS_ORACLE = """
SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS _n
FROM events WHERE event_type = 'purchase' GROUP BY user_id
"""


def purchase_cents(events):
    """Per-event purchase amount in integer cents: exact sums, so the
    aggregate compares bit-for-bit with its oracle."""
    return events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )


def _mismatches(sink, log_dir: str, checks) -> list[str]:
    """Tables whose rows differ, as multisets, from their oracle over
    the events with ``event_id <= upto``; ``checks`` holds
    ``(table, oracle_sql, upto)``."""
    con = duckdb.connect()
    bad = []
    for table, oracle, upto in checks:
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet("
            f"'{log_dir}/events.parquet/*.parquet') WHERE event_id <= {int(upto)}"
        )
        want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
        if sorted(sink.rows(table)) != want:
            bad.append(table.name)
    con.close()
    return bad


def _epoch_dirs_max(mirror_roots: list[str]) -> int:
    """Largest number of epoch directories a mirror table holds (prune
    must leave one)."""
    counts = [
        len(os.listdir(os.path.join(root, table)))
        for root in mirror_roots
        for table in os.listdir(root)
    ]
    return max(counts, default=0)


def _storage_mem_used(sc) -> int:
    """Bytes of block-manager memory in use (cached blocks)."""
    it = sc._jsc.sc().getExecutorMemoryStatus().values().iterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used


def run_live(spark, seed: int, seconds: float, work: str, inputs: str, tracer=None) -> dict:
    """One op = one ``run_batch`` call. An event's latency runs from its
    scheduled arrival to the return of the later of the two
    ``run_batch`` calls that first cover it."""
    head0 = HISTORY - 1  # last event committed in set-up
    tail = int(LIVE_RATE * (seconds + 60))
    log = gen.event_log(
        inputs, seed, KEYS, (("stream", STREAM_EVENTS), ("bulk", HISTORY - STREAM_EVENTS), ("tail", tail))
    )
    stream_files = os.path.join(log, "events.parquet", "stream-*.parquet")
    mirror, totals_mirror = os.path.join(work, "mirror"), os.path.join(work, "totals_mirror")

    t = time.perf_counter()
    setup_parts = {}
    with spans.traced_region(tracer, "ivm_live.setup"):
        schema = spark.read.parquet(stream_files).schema
        sink = SqliteSink(os.path.join(work, "live.db"))
        structured.run_available_now(
            spark,
            # the ts normalization load_table applies to batch reads
            _ts_as_long_nanos(structured.events_stream(spark, stream_files, schema, 1)),
            [(DASH, machine_dashboard.build_view), (USAGE, machine_usage.build_view)],
            sink,
            stage_dir=os.path.join(work, "stage"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            mirror_dir=mirror,
        )
    setup_parts["catch_up"] = time.perf_counter() - t
    events = load_table(spark, log, "events")
    # e1 resumes from the catch-up: same sink, offsets table and mirror
    dash = runner_mod.IncrementalRunner(
        spark, sink, DASH, machine_dashboard.build_view, mirror_dir=mirror
    )
    totals = runner_mod.IncrementalAggRunner(
        spark, sink, TOTALS, ["user_id"], "cents", "total_cents",
        prepare=purchase_cents, mirror_dir=totals_mirror,
    )
    history = events.filter(F.col("event_id") < HISTORY)
    dash.catch_up(history, events_per_txn=HISTORY)
    totals.catch_up(history, events_per_txn=HISTORY)
    setup_s = time.perf_counter() - t
    setup_parts["bulk_history"] = setup_s - setup_parts["catch_up"]

    covered: dict[str, list[tuple[int, float]]] = {"dash": [], "totals": []}
    for key, r in (("dash", dash), ("totals", totals)):
        orig = r.run_batch

        def stamped(ev, upto, _orig=orig, _log=covered[key]):
            n = _orig(ev, upto)
            _log.append((upto, time.perf_counter()))
            return n

        r.run_batch = stamped

    sc = spark.sparkContext
    # set-up garbage must not be collected inside the timed region
    live_heap = [spans.live_heap(spark)]
    persisted0 = len(sc._jsc.getPersistentRDDs())
    errors: list[str] = []
    committed = head0
    last = head0 + tail
    backlog_max = busy = 0
    ticks = []
    attempted = failed = 0
    t_wall0 = time.time()
    t_start = time.perf_counter()
    t_end = t_start + seconds

    def arrival(i: int) -> float:
        return t_start + (i - head0) / LIVE_RATE

    with spans.traced_region(tracer, "ivm_live.timed"):
        while (now := time.perf_counter()) < t_end:
            head = min(last, head0 + int((now - t_start) * LIVE_RATE))
            if head <= committed:
                time.sleep(max(0.0, min(arrival(committed + 1), t_end) - now))
                continue
            backlog_max = max(backlog_max, head - committed)
            ev = events.filter(F.col("event_id") <= head)
            calls = sum(map(len, covered.values()))
            try:
                dash.catch_up(ev, events_per_txn=EVENTS_PER_TXN)
                totals.catch_up(ev, events_per_txn=EVENTS_PER_TXN)
            except Exception as ex:  # noqa: BLE001 — counted, the loop goes on
                attempted += 1
                failed += 1
                errors.append(f"{type(ex).__name__}: {ex}"[:300])
            attempted += sum(map(len, covered.values())) - calls
            ticks.append(time.perf_counter() - now)
            busy += ticks[-1]
            committed = head
    t_wall1 = time.time()
    live_heap.append(spans.live_heap(spark))

    latencies = []
    for i in range(head0 + 1, committed + 1):
        ends = [next((t for upto, t in log_ if upto >= i), math.inf) for log_ in covered.values()]
        if max(ends) < math.inf:
            latencies.append(max(ends) - arrival(i))

    layer = {
        "gen.backlog_events_max": backlog_max,
        "session.persisted_rdds_delta": len(sc._jsc.getPersistentRDDs()) - persisted0,
        "session.storage_mem_bytes_end": _storage_mem_used(sc),
        "writer.mirror_dirs_end": _epoch_dirs_max([mirror, totals_mirror]),
        "sink.db_bytes_end": sum(
            os.path.getsize(os.path.join(work, f)) for f in os.listdir(work) if f.startswith("live.db")
        ),
    }
    offsets = (sink.read_offsets(DASH).get("events"), sink.read_offsets(TOTALS).get("events"))
    bad = _mismatches(
        sink,
        log,
        [
            (DASH, E1_ORACLE, committed),
            (USAGE, E2_ORACLE, STREAM_HEAD),  # maintained by the catch-up only
            (TOTALS, TOTALS_ORACLE, committed),
        ],
    )
    if bad or offsets != (committed, committed):
        failed = attempted
        errors.append(f"mismatch {bad}, offsets {offsets}, committed {committed}")
    sink.close()
    n_calls = sum(map(len, covered.values()))
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        "latencies": latencies,
        "throughput": n_calls / busy if busy else 0.0,
        "window": (t_wall0, t_wall1),
        "live_heap_bytes": max(live_heap),
        "events": committed - head0,
        # executor CPU is reported per run_batch call: an epoch
        # recomputes the view over the whole history, so its cost
        # follows the number of epochs, not the events they cover
        "work_units": n_calls,
        "layer": layer,
        "detail": {
            "log": {
                "history": HISTORY,
                "structured_catch_up": STREAM_EVENTS,
                "keys": KEYS,
                "rate_per_s": LIVE_RATE,
                "events_per_txn": EVENTS_PER_TXN,
                "event_mix": dict(zip(gen.EVENT_TYPES, gen.EVENT_MIX)),
            },
            "setup_parts_s": setup_parts,
            "live_events_committed": committed - head0,
            "busy_s": busy,
            "tick_s": ticks,
            "live_heap_mb": [b / 2**20 for b in live_heap],
            "run_batch_calls": {k: len(v) for k, v in covered.items()},
        },
    }

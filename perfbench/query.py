"""The ``query_headline`` workload: registry rows over the query corpus,
each written to the ``noop`` sink with Spark's reuse channels cleared
before it.

Set-up runs every row once, untimed for the metrics: it compiles the
plans (JIT), builds the repository-local layouts the rows use
(``.scratch/bucketed``, ``.scratch/ivf``), and collects each row's
result to hash-compare it with its DuckDB oracle (``tools/check.py``'s
``value_hash``). The timed region then cycles through the rows in the
seed's order until ``--seconds`` have passed, and at least once.
"""

from __future__ import annotations

import random
import statistics
import time

import duckdb

from actyxos_data_flow_spark.plans import load_all
from actyxos_data_flow_spark.sources import TABLES
from bench import _clear_spark_caches
from tools.check import value_hash

import gen
import spans

# Scale factor of the generated corpus (the repository's sf0.001 sizes).
QUERY_SF = 0.001
# One headline (bench=True) row from each of the 15 plan modules that
# have headline rows, the cheapest there: the full 38-row headline set
# takes ~45 s warm plus ~75 s to compile on 4 CPUs, more than one
# benchmark run may take.
ROWS = (
    "q1_pricing_summary",  # tpch
    "e1_dashboard",  # reference
    "pipeline_clean_corpus",  # pipeline
    "decontaminate_vs_eval",  # dedup
    "ann_ivf_topk",  # similarity
    "text_token_stats",  # text
    "bpe_token_stats",  # bpe
    "sketch_kmv_setops",  # hll
    "graph_pagerank_trade",  # graph
    "layout_prune_compare",  # layout
    "mm_phash_pairs",  # multimodal
    "bucketed_join_colocated",  # relational
    "bm25_search_topk",  # retrieval
    "rl_episode_returns",  # rlpref
    "rolling_hourly_avg",  # temporal
)


def module_of(spec) -> str:
    return spec.fn.__wrapped__.__module__.rsplit(".", 1)[-1]


def _settle(spark) -> None:
    """Start each row from the same state: no reused query results
    (the channels ``bench.py`` clears) and no garbage left by the row
    before, whose collection would otherwise land inside this row's
    time."""
    _clear_spark_caches(spark)
    spans.settle(spark)


def _oracle_views(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def run_query(spark, seed: int, seconds: float, work: str, inputs: str, tracer=None) -> dict:
    sf_dir = gen.query_corpus(inputs, QUERY_SF)
    registry = load_all()
    order = list(ROWS)
    random.Random(seed).shuffle(order)
    missing = [r for r in order if r not in registry or not registry[r].bench]
    if missing:
        raise KeyError(f"headline rows not in the registry: {missing}")

    # set-up pass: compile, build layouts, check every row's output
    con = _oracle_views(sf_dir)
    setup_s = 0.0
    bad: dict[str, str] = {}
    for name in order:
        spec = registry[name]
        t = time.perf_counter()
        try:
            _clear_spark_caches(spark)
            df = spec.fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # noqa: BLE001 — counted as a failed row
            bad[name] = f"{type(ex).__name__}: {ex}"[:300]
            continue
        finally:
            setup_s += time.perf_counter() - t
        cur = con.execute(spec.oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if (
            len(rows) != len(orows)
            or sorted(cols) != sorted(ocols)
            or value_hash(rows, cols) != value_hash(orows, ocols)
        ):
            bad[name] = f"oracle mismatch ({len(rows)} rows vs {len(orows)})"
    con.close()

    samples: dict[str, list[float]] = {n: [] for n in order}
    live_heap = [spans.live_heap(spark)]
    attempted = failed = 0
    t_wall0 = time.time()
    deadline = time.perf_counter() + seconds
    i = 0
    with spans.traced_region(tracer, "query_headline.timed"):
        while i < len(order) or time.perf_counter() < deadline:
            name = order[i % len(order)]
            i += 1
            attempted += 1
            _settle(spark)
            try:
                with spans.span_or_nothing(
                    tracer, "plans.query", row=name, module=module_of(registry[name])
                ):
                    t0 = time.perf_counter()
                    with spans.span_or_nothing(tracer, "plans.build"):
                        df = registry[name].fn(spark, sf_dir)
                    with spans.span_or_nothing(tracer, "plans.exec"):
                        df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 — counted as a failed row
                failed += 1
                bad.setdefault(name, f"{type(ex).__name__}: {ex}"[:300])
                continue
            samples[name].append(t2 - t0)
    t_wall1 = time.time()
    live_heap.append(spans.live_heap(spark))

    # a row whose output mismatched its oracle fails every time it ran
    failed += sum(len(samples[n]) for n in bad)
    # the median, not the best: a second sample, which only rows early
    # in the seed's order may get, then adds no bias
    per_row = {n: statistics.median(v) for n, v in samples.items() if v}
    total = sum(per_row.values())
    return {
        "attempted": attempted,
        "failed": min(failed, attempted),
        "setup_s": setup_s,
        "latencies": list(per_row.values()),
        "throughput": len(per_row) / total if total else 0.0,
        "work_units": attempted,
        "window": (t_wall0, t_wall1),
        "live_heap_bytes": max(live_heap),
        "layer": {},
        "detail": {
            "sf": QUERY_SF,
            "order": order,
            "row_median_s": per_row,
            "query_total_s": total,
        },
        "errors": bad,
    }


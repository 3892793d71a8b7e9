"""Seeded input generators for the benchmark.

Everything the program reads during a run is written here, under the
benchmark's work directory, from a seed: the IVM event logs (one per
``--seed``) and the fixed query corpus (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``, with the same schemas and
value shapes as the repository's test data). Outputs are cached by
their generating parameters and written atomically (temp dir, then
rename), so a cache hit is always a complete data set.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
# uniform mix, as in the repository's test data: e1 keeps 4/5 of the
# events, e2 pairs signup/purchase, the aggregate view sums purchases
EVENT_MIX = (0.2, 0.2, 0.2, 0.2, 0.2)
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENTS_SPAN_US = 30 * 86_400_000_000
# the test data's sf0.1 spacing: 100k events over 30 days
LOG_US_PER_EVENT = EVENTS_SPAN_US // 100_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def events_table(
    rng: np.random.Generator, start_id: int, n: int, n_keys: int, us_per_event: int
) -> pa.Table:
    """``n`` events with ids ``start_id..start_id+n-1``. ``ts`` rises
    with ``event_id`` (ids are the log's lamport order), ``us_per_event``
    apart on average, so consecutive chunks of one log stay in time
    order."""
    t0 = EVENTS_T0_US + start_id * us_per_event
    ts = t0 + np.sort(rng.integers(0, max(n, 1) * us_per_event, n))
    types = np.array(EVENT_TYPES, dtype=object)[rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        [
            pa.array(np.arange(start_id, start_id + n, dtype=np.int64)),
            pa.array(ts.astype("datetime64[us]")),
            pa.array(rng.integers(0, n_keys, n, dtype=np.int64)),
            pa.array(types.tolist(), pa.string()),
            pa.array(value),
            pa.array(props.tolist(), pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def _publish(tmp: str, final: str) -> str:
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def event_log(root: str, seed: int, n_keys: int, parts: tuple[tuple[str, int], ...]) -> str:
    """One log in event_id order, one file per ``(prefix, events)`` in
    ``parts``: ``<log>/events.parquet/<prefix>-NNNN.parquet``, NNNN the
    file's position in the log. Modification times rise one second per
    file in log order, so a file-stream source over one prefix takes
    its files oldest first, one file per micro-batch. Returns ``<log>``,
    the ``sf_dir`` that ``sources.load_table`` reads."""
    name = f"log-s{seed}-k{n_keys}-" + "-".join(f"{p}{n}" for p, n in parts)
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    files = os.path.join(tmp, "events.parquet")
    os.makedirs(files)
    rng = np.random.default_rng(seed)
    lo = 0
    for i, (prefix, n) in enumerate(parts):
        path = os.path.join(files, f"{prefix}-{i:04d}.parquet")
        pq.write_table(events_table(rng, lo, n, n_keys, LOG_US_PER_EVENT), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        lo += n
    open(os.path.join(tmp, "_DONE"), "w").close()
    return _publish(tmp, final)


# -- query corpus ---------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_MIX = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _pick(rng, options, n, p=None):
    return pa.array(np.array(options, dtype=object)[rng.choice(len(options), n, p=p)].tolist())


def _days(rng, n, first: dt.date, last: dt.date):
    base = np.datetime64(first, "D")
    span = (last - first).days + 1
    return pa.array((base + rng.integers(0, span, n)).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_MIX),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n):
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def query_corpus(root: str, sf: float, seed: int = 42) -> str:
    """The ten tables of the registry's query surface at scale factor
    ``sf`` (row counts as in the repository's test data: 6M*sf
    lineitems, 1M*sf events, ...), one parquet file per table. Returns
    the ``sf_dir``."""
    final = os.path.join(root, f"corpus-sf{sf}-s{seed}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": _keys(c),
            "c_name": _names("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": _keys(s),
            "s_name": _names("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": _keys(p),
            "p_name": _pick(rng, names, p),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": _keys(o),
            "o_custkey": pa.array(rng.integers(0, c, o)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li)),
            "l_partkey": pa.array(rng.integers(0, p, li)),
            "l_suppkey": pa.array(rng.integers(0, s, li)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, li), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, li), 2)),
            "l_returnflag": _pick(rng, ("A", "N", "R"), li),
            "l_linestatus": _pick(rng, ("F", "O"), li),
            "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    tables["events"] = events_table(
        rng, 0, n["events"], n["users"], EVENTS_SPAN_US // n["events"]
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    return _publish(tmp, final)

"""Seeded input generators for every workload.

Everything here is the benchmark's own work: the program under test only
ever sees the files these functions write.  The same ``seed`` gives the
same bytes, and each generator also returns what the program must output
on those files, computed here without Spark.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- sizes

# Table sizes for the batch workloads.  They sit between the repo's sf0.01
# and sf0.001 fixtures: at these sizes per-query planning and scheduling
# dominate a query's wall, which is the regime the batch workloads measure.
TABLE_SIZES = {
    "customer": 600,
    "supplier": 40,
    "part": 800,
    "orders": 6000,  # lineitem is 1..7 lines per order, ~24k rows
    "events": 4000,
    "users": 150,
    "documents": 300,
    "embeddings": 128,
}
TINY_TABLE_SIZES = {
    "customer": 60, "supplier": 10, "part": 80, "orders": 400,
    "events": 400, "users": 30, "documents": 60, "embeddings": 40,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "hot", "old", "small", "large", "blue", "cold", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "valve", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts_naive(us: np.ndarray) -> pa.Array:
    """Timestamps written the way the repo's fixtures are: microseconds,
    not adjusted to UTC (Spark reads them as TIMESTAMP_NTZ, which the
    table loaders normalise)."""
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def write_tables(out_dir: str, seed: int, sizes: dict) -> dict[str, int]:
    """Write the ten-table star schema (TPC-H-like dimensions, ``events``,
    ``documents``, ``embeddings``) as one parquet file per table.
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    rows: dict[str, int] = {}

    rows["region"] = _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = sizes["customer"]
    rows["customer"] = _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })

    n_supp = sizes["supplier"]
    rows["supplier"] = _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    n_part = sizes["part"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    rows["part"] = _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                            rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    n_ord = sizes["orders"]
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_naive(_EPOCH_1995_US + order_day * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    rows["lineitem"] = _write(p("lineitem"), {
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": l_part.astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_naive(_EPOCH_1995_US + ship_day * _DAY_US),
    })

    n_ev = sizes["events"]
    rows["events"] = _write(p("events"), {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts_naive(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev)),
        "user_id": rng.integers(0, sizes["users"], n_ev).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    rows["documents"] = _write(p("documents"), _documents(rng, sizes["documents"]))
    rows["embeddings"] = _write(p("embeddings"), _embeddings(rng, sizes["embeddings"]))
    return rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word sequences over a 30-word vocabulary, plus planted near
    duplicates: about one document in eight copies an earlier document of
    the same source with a few words replaced, so the similarity and
    dedup queries have true pairs to find."""
    texts: list[str] = []
    sources: list[str] = []
    for i in range(n):
        src = f"src{rng.integers(0, 10)}"
        if i > 10 and rng.random() < 0.125:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for pos in rng.choice(len(words), max(1, len(words) // 25), replace=False):
                words[pos] = str(rng.choice(_WORDS))
            src = sources[j]
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
        sources.append(src)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit-norm float32 vectors around ten random centres (the label)."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centres[label] + 1.5 * rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


# ---------------------------------------------------------------- streams

# Event-time layout shared by both stream workloads.  Each source writes
# one file per micro-batch; file ``i`` holds in-order rows in
# [T_i, T_i + SLICE_MS) with T_i = BASE + i * SLICE_MS.
WINDOW_MS = 5_000  # tumbling window interval
DELAY_MS = 20_000  # watermark delay (the reference's bufferInterval)
SLICE_MS = 10_000
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_KEYS = ["k0", "k1", "k2", "k3"]


def _stream_slices(rng, files: int, rows: int, late_share: float,
                   ooo_share: float) -> list[dict]:
    """Per-file rows for one source: in-order, out-of-order and late.

    - Out-of-order rows of file i lie in [T_i - DELAY_MS + 1 s, T_i): behind
      the newest event already seen, but never behind a watermark, which
      after batch i-1 is at most T_i - DELAY_MS.
    - Late rows of file i (i >= 2) lie more than one window interval behind
      T_{i-2} - DELAY_MS.  Spark drops late rows of batch i against the
      watermark batch i-1 ran with, which is at least that (file i-2
      holds rows at or after T_{i-2}), so they are dropped whatever the
      batch boundaries are.
    - In-order times are odd milliseconds, so the final watermark (newest
      time minus DELAY_MS) never falls on a window boundary, where the
      two window paths' eviction rules (end <= watermark against
      end < watermark) would differ.
    - A tenth of in-order rows carry a negative value, which the pipeline's
      filter removes.
    """
    out = []
    for i in range(files):
        t_i = BASE_MS + i * SLICE_MS
        n_late = int(rows * late_share) if i >= 2 else 0
        n_ooo = int(rows * ooo_share) if i >= 1 else 0
        n_in = rows - n_late - n_ooo
        ts_in = t_i + 1 + 2 * rng.integers(0, SLICE_MS // 2, n_in)
        ts_ooo = t_i - DELAY_MS + 1_000 + rng.integers(0, DELAY_MS - 1_000, n_ooo)
        lo = t_i - 2 * SLICE_MS - DELAY_MS - WINDOW_MS
        ts_late = lo - 1 - rng.integers(0, 3 * WINDOW_MS, n_late)
        value = rng.integers(1, 1000, rows)
        value[: n_in // 10] *= -1
        kind = np.array(["in"] * n_in + ["ooo"] * n_ooo + ["late"] * n_late)
        order = rng.permutation(rows)
        out.append({
            "ts": np.concatenate([ts_in, ts_ooo, ts_late])[order],
            "value": value[order],
            "key": rng.choice(_KEYS, rows),
            "kind": kind[order],
        })
    return out


def write_window_input(out_dir: str, seed: int, files: int, rows: int) -> dict:
    """Two parquet sources for the window workload, one file per batch, and
    the windows the watermark rule says must be emitted.

    Columns: ``ts`` (TIMESTAMP, adjusted to UTC, millisecond values),
    ``key`` string, ``value`` long.  The expected answer is, for every
    (window, key) whose end is at or before the final watermark (newest
    event time minus DELAY_MS), the count, sum and maximum of
    ``value * 2`` and the span from first to last event time in ms, over
    rows that pass the ``value >= 0`` filter and are not late.

    ``late_groups`` counts the distinct (window, key) of late rows per
    micro-batch: the built-in aggregation merges a batch's rows per group
    before its state operator drops late ones, so Spark counts one drop
    per group there."""
    rng = np.random.default_rng(seed)
    slices = {src: _stream_slices(rng, files, rows, 0.05, 0.10) for src in ("a", "b")}
    kept: dict[tuple, list] = defaultdict(list)
    n_late = 0
    late_groups = 0
    max_ts = 0
    total = 0
    for i in range(files):
        batch_late = set()
        for src in ("a", "b"):
            sl = slices[src][i]
            os.makedirs(os.path.join(out_dir, src), exist_ok=True)
            pq.write_table(pa.table({
                "ts": pa.array(sl["ts"] * 1000, pa.timestamp("us", tz="UTC")),
                "key": sl["key"],
                "value": sl["value"].astype("int64"),
            }), os.path.join(out_dir, src, f"part-{i:04d}.parquet"))
            total += len(sl["ts"])
            keep = sl["value"] >= 0
            late = keep & (sl["kind"] == "late")
            n_late += int(late.sum())
            batch_late |= {(int(t) // WINDOW_MS, str(k))
                           for t, k in zip(sl["ts"][late], sl["key"][late])}
            ok = keep & (sl["kind"] != "late")
            max_ts = max(max_ts, int(sl["ts"][ok].max()))
            for t, k, v in zip(sl["ts"][ok], sl["key"][ok], sl["value"][ok]):
                kept[(int(t) // WINDOW_MS, str(k))].append((int(t), int(v) * 2))
        late_groups += len(batch_late)
    final_wm = max_ts - DELAY_MS
    windows = {}
    for (w, k), vals in kept.items():
        start = w * WINDOW_MS
        if start + WINDOW_MS <= final_wm:
            ts = [t for t, _ in vals]
            amounts = [v for _, v in vals]
            windows[(start, start + WINDOW_MS, k)] = (
                len(vals), sum(amounts), max(amounts), max(ts) - min(ts),
            )
    return {
        "rows": total,
        "late_rows": n_late,
        "late_groups": late_groups,
        "windows": windows,
    }


def write_ingest_input(out_dir: str, seed: int, files: int, rows: int) -> dict:
    """Two JSON-lines sources for the ingest workload, one file per batch.

    Each line: ``{"ts", "user", "kind", "ok", "items": [{"sku","qty"}]}``.
    The pipeline keeps ``ok`` lines, explodes ``items`` and writes
    (ts, user, kind, sku, qty * 10); the expected sink content is that
    multiset, returned as a Counter of tuples (ts in epoch microseconds)."""
    rng = np.random.default_rng(seed)
    expected: Counter = Counter()
    total = 0
    for src in ("a", "b"):
        os.makedirs(os.path.join(out_dir, src), exist_ok=True)
        for i, sl in enumerate(_stream_slices(rng, files, rows, 0.0, 0.10)):
            n = len(sl["ts"])
            n_items = rng.integers(0, 4, n)
            ok = rng.random(n) >= 0.1
            users = rng.integers(0, 500, n)
            with open(os.path.join(out_dir, src, f"part-{i:04d}.json"), "w") as f:
                for j in range(n):
                    ts_us = int(sl["ts"][j]) * 1000 + int(rng.integers(0, 1000))
                    items = [{"sku": f"sku{int(rng.integers(0, 50))}",
                              "qty": int(rng.integers(1, 20))}
                             for _ in range(n_items[j])]
                    rec = {"ts": _iso_us(ts_us), "user": int(users[j]),
                           "kind": src, "ok": bool(ok[j]), "items": items}
                    f.write(json.dumps(rec) + "\n")
                    if ok[j]:
                        for it in items:
                            expected[(ts_us, int(users[j]), src, it["sku"],
                                      it["qty"] * 10)] += 1
            total += n
    return {"rows": total, "expected": expected}


def _iso_us(ts_us: int) -> str:
    """ISO-8601 with microseconds and a Z offset, the format the Stream
    facade reads and writes JSON timestamps in."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(ts_us // 1_000_000, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + f".{ts_us % 1_000_000:06d}Z"

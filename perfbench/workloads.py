"""The workloads: their inputs, operations and output checks.

An operation is one call a user makes and waits for: a query built with
``QuerySpec.fn`` and collected, or one drain of a stream backlog through
the ``Stream`` facade.  ``prepare`` writes the seeded inputs and computes
the expected answers before any Spark session exists, and returns the
warm-up operations and the measured ones: each a callable that runs the
program and returns its output, paired with a check that returns None
or a reason.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections import Counter
from dataclasses import dataclass
from typing import Callable

from . import checks, gen

# The JSON timestamp format of the Stream facade's wire encoding.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


@dataclass
class Op:
    name: str
    run: Callable  # (spark, tracer) -> output
    check: Callable  # (output, drain record or None) -> None | reason
    rows_in: int  # input rows the operation consumes
    expected: object  # what the check compares against, as JSON-able data


@dataclass
class Workload:
    name: str
    why: str
    warm_passes: int  # warm-up passes before measuring
    prepare: Callable  # (work_dir, seed, tiny) -> (warm-up ops, measured ops)
    op_names: tuple[str, ...]
    stream: bool = False


# ----------------------------------------------------------- batch side

# query -> the tables it reads (for rows_per_s).  q218 runs its descent
# rounds eagerly inside QuerySpec.fn (about 90 stages at this size); the
# other queries are exact and small, so per-query planning and scheduling
# dominate them.
BATCH_QUERIES = {
    "q218_nn_descent_knn_graph": ("embeddings",),
    "q27_cosine_topk": ("embeddings",),
    "q07_pricing_summary": ("lineitem",),
    "q09_revenue_by_nation": ("customer", "orders", "lineitem", "nation"),
    "q12_top3_orders_per_customer": ("orders",),
}


def _prepare_tables(work_dir, seed, tiny, queries):
    table_dir = os.path.join(work_dir, "tables")
    sizes = gen.TINY_TABLE_SIZES if tiny else gen.TABLE_SIZES
    rows = gen.write_tables(table_dir, seed, sizes)
    exact = [q for q in queries if q in checks.DUCKDB_SQL]
    state = {"dir": table_dir, "rows": rows,
             "answers": checks.duckdb_answers(table_dir, exact)}
    if "q218_nn_descent_knn_graph" in queries:
        state["vecs"] = checks.embedding_matrix(table_dir)
    return state


def _query_op(name, tables, state):
    from kstreamjs_spark.queries import all_queries

    spec = all_queries()[name]
    table_dir = state["dir"]

    def run(spark, tracer):
        with tracer.span("build", layer="queries"):
            df = spec.fn(spark, table_dir)
        with tracer.span("collect", layer="queries"):
            rows = df.collect()
        return df.columns, rows

    if name in state["answers"]:
        want_cols, want_rows = state["answers"][name]

        def check(out, _drain):
            return checks.compare_rows(out[0], out[1], want_cols, want_rows)
    elif name == "q218_nn_descent_knn_graph":
        def check(out, _drain):
            cols, rows = out
            idx = [cols.index(c) for c in ("src", "dst", "score", "rn")]
            return checks.check_knn_graph([[r[i] for i in idx] for r in rows],
                                          state["vecs"])
    else:  # pragma: no cover - every listed query has a check
        raise KeyError(name)
    rows_in = sum(state["rows"][t] for t in tables)
    expected = state["answers"].get(name, (
        "20 neighbours per node, no self edges, scores equal to the true "
        "cosine, recall >= 0.9 (numpy brute force)"))
    return Op(name, run, check, rows_in, expected)


def _prepare_batch(queries):
    """Batch workloads warm up on the inputs they measure."""
    def prepare(work_dir, seed, tiny):
        state = _prepare_tables(work_dir, seed, tiny, queries)
        ops = [_query_op(q, t, state) for q, t in queries.items()]
        return ops, ops
    return prepare


# ---------------------------------------------------------- stream side

# Files per source (one per micro-batch) and rows per file, for the
# window aggs, window collect and ingest drains.  A stream's first drain
# in a process costs several times a later one (class loading, code
# generation, the first Python workers), and per-trigger cost does not
# depend on the input, so the warm-up drains read a one-file input of the
# same make-up rather than the measured one.  Three files is the fewest
# that holds late rows (see gen._stream_slices).
STREAM_INPUT = {"aggs": (3, 400), "collect": (3, 100), "ingest": (5, 300)}
WARM_STREAM_INPUT = {"aggs": (1, 100), "collect": (1, 40), "ingest": (1, 100)}
TINY_STREAM_INPUT = {"aggs": (3, 40), "collect": (3, 40), "ingest": (2, 40)}

WINDOW_SCHEMA = "ts timestamp, key string, value long"
INGEST_SCHEMA = ("ts timestamp, user long, kind string, ok boolean, "
                 "items array<struct<sku:string,qty:long>>")


def _sources(spark, root, fmt, schema):
    from kstreamjs_spark.stream import Stream

    out = []
    for src in ("a", "b"):
        reader = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1"))
        if fmt == "json":
            reader = reader.option("timestampFormat", JSON_TS_FORMAT)
        out.append(Stream.from_dataframe(reader.format(fmt).load(f"{root}/{src}")))
    return out


def _window_stream(spark, root):
    import pyspark.sql.functions as F

    a, b = _sources(spark, root, "parquet", WINDOW_SCHEMA)
    return (a.union(b)
            .filter(F.col("value") >= 0)
            .map(amount=F.col("value") * 2))


def _collect_window(pdf):
    """The reference-style ``collect`` callback: one output row per
    window from all of its rows, in event-time order."""
    import pandas as pd

    ts = pdf["ts"]
    return {
        "n": len(pdf),
        "total": int(pdf["amount"].sum()),
        "max_amount": int(pdf["amount"].max()),
        "span_ms": (ts.iloc[-1] - ts.iloc[0]) // pd.Timedelta(milliseconds=1),
    }


def _window_expected(expected, with_span):
    """The windows and drop count the check wants, as JSON-able data.  On
    the fire-once ``collect`` path Spark drops each late row; the ``aggs``
    path merges a micro-batch's rows per group before its state operator,
    so Spark counts one drop per distinct (window, key) of late rows in a
    batch."""
    cols = ["window_start_ms", "window_end_ms", "key", "n", "total", "max_amount"]
    rows = sorted([*k, *(v if with_span else v[:3])]
                  for k, v in expected["windows"].items())
    return {"columns": cols + (["span_ms"] if with_span else []), "rows": rows,
            "rows_dropped_by_watermark":
                expected["late_rows"] if with_span else expected["late_groups"]}


def _window_check(expected, with_span):
    want = _window_expected(expected, with_span)

    def check(out, drain):
        got = sorted([_epoch_ms(r["window_start"]), _epoch_ms(r["window_end"]),
                      *(r[c] for c in want["columns"][2:])] for r in out)
        if got != want["rows"]:
            missing = [w for w in want["rows"] if w not in got][:2]
            extra = [g for g in got if g not in want["rows"]][:2]
            return (f"{len(got)} windows, expected {len(want['rows'])}; "
                    f"missing {missing}, unexpected {extra}")
        if drain["dropped"] != want["rows_dropped_by_watermark"]:
            return (f"{drain['dropped']} rows dropped by watermark, expected "
                    f"{want['rows_dropped_by_watermark']}")
        return None
    return check


def _epoch_ms(t) -> int:
    import datetime as dt

    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1000)


def _window_ops(state):
    aggs_in, coll_in = state["aggs"], state["collect"]

    def aggs_run(spark, tracer):
        import pyspark.sql.functions as F

        out = _window_stream(spark, aggs_in["dir"]).window(
            gen.WINDOW_MS, buffer_interval_ms=gen.DELAY_MS, keys=["key"],
            aggs={"n": F.count(F.lit(1)), "total": F.sum("amount"),
                  "max_amount": F.max("amount")},
        )
        with tracer.drain("window_aggs"):
            res = out.run_available(name="window_aggs")
        with tracer.span("collect", layer="stream"):
            return res.collect()

    def collect_run(spark, tracer):
        out = _window_stream(spark, coll_in["dir"]).window(
            gen.WINDOW_MS, buffer_interval_ms=gen.DELAY_MS, keys=["key"],
            collect=_collect_window,
            out_schema="n long, total long, max_amount long, span_ms long",
        )
        with tracer.drain("window_collect"):
            res = out.run_available(name="window_collect")
        with tracer.span("collect", layer="stream"):
            return res.collect()

    return [
        Op("window_aggs", aggs_run, _window_check(aggs_in, False), aggs_in["rows"],
           _window_expected(aggs_in, False)),
        Op("window_collect", collect_run, _window_check(coll_in, True), coll_in["rows"],
           _window_expected(coll_in, True)),
    ]


def _stream_inputs(work_dir, seed, sizes):
    state = {}
    for part in ("aggs", "collect"):
        files, rows = sizes[part]
        root = os.path.join(work_dir, f"window_{part}")
        state[part] = dict(gen.write_window_input(root, seed, files, rows), dir=root)
        seed += 1_000_003
    files, rows = sizes["ingest"]
    root = os.path.join(work_dir, "ingest")
    state["ingest"] = dict(gen.write_ingest_input(root, seed, files, rows), dir=root,
                           sink_root=os.path.join(work_dir, "ingest_sink"))
    return _window_ops(state) + [_ingest_op(state["ingest"])]


def _prepare_stream(work_dir, seed, tiny):
    warm = _stream_inputs(os.path.join(work_dir, "warm"), seed + 7, WARM_STREAM_INPUT)
    ops = _stream_inputs(os.path.join(work_dir, "measured"), seed,
                         TINY_STREAM_INPUT if tiny else STREAM_INPUT)
    return warm, ops


def _ingest_op(state):
    def run(spark, tracer):
        import pyspark.sql.functions as F

        a, b = _sources(spark, state["dir"], "json", INGEST_SCHEMA)
        out = (a.union(b)
               .filter(F.col("ok"))
               .explode("items", alias="item", keep=["ts", "user", "kind"])
               .map("ts", "user", "kind", F.col("item.sku").alias("sku"),
                    (F.col("item.qty") * 10).alias("qty10")))
        run_id = uuid.uuid4().hex[:8]
        sink = os.path.join(state["sink_root"], run_id)
        with tracer.drain("ingest", sink_dir=sink):
            handle = out.write_to(
                sink, "parquet",
                checkpointLocation=os.path.join(state["sink_root"], f"ckpt_{run_id}"))
            try:
                handle.query.processAllAvailable()
            finally:
                handle.stop()
        return sink

    def check(sink, _drain):
        import pyarrow.parquet as pq

        got: Counter = Counter()
        for path in glob.glob(os.path.join(sink, "part-*.parquet")):
            t = pq.read_table(path)
            ts = t.column("ts").cast("timestamp[us]").cast("int64").to_pylist()
            for row in zip(ts, *(t.column(c).to_pylist()
                                 for c in ("user", "kind", "sku", "qty10"))):
                got[row] += 1
        if got != state["expected"]:
            return (f"sink holds {sum(got.values())} rows, expected "
                    f"{sum(state['expected'].values())}; "
                    f"{sum((got - state['expected']).values())} unexpected")
        return None

    expected = sorted([*row, n] for row, n in state["expected"].items())
    return Op("ingest", run, check, state["rows"],
              {"columns": ["ts_us", "user", "kind", "sku", "qty10", "count"],
               "rows": expected})


WORKLOADS = {
    "batch": Workload(
        "batch",
        "QuerySpec queries: exact relational ones, where planning, AQE and "
        "shuffle do the work, beside q218 NN-Descent and a cosine top-k",
        warm_passes=1,
        prepare=_prepare_batch(BATCH_QUERIES),
        op_names=tuple(BATCH_QUERIES),
    ),
    "stream": Workload(
        "stream",
        "the Stream facade: event-time windows (built-in aggs and the "
        "fire-once Python collect) with late rows, and JSON ingest to parquet",
        warm_passes=1,
        prepare=_prepare_stream,
        op_names=("window_aggs", "window_collect", "ingest"),
        stream=True,
    ),
}

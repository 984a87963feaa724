"""The workloads: what each job calls, its inputs and its check.

Every job goes through a public entry point of the engine: a registry
builder followed by ``collect``, ``start_mapreduce_job`` with its
``JobHandle``, or ``run_session_stream``. Each job's result is checked
against a reference computed during set-up: the registry's DuckDB oracle
SQL, a Python ``Counter``, or q269's oracle SQL.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

from perfbench.gen import Sizes

# Stage order of the reference progress contract; a poll that reads a
# lower (stage, percentage) than the poll before it went backwards.
STAGE_ORDER = {"UNDEFINED": 0, "MAP": 1, "SHUFFLE": 2, "REDUCE": 3}


def progress_backwards(states: list[tuple[str, float]]) -> int:
    """Number of polls whose (stage, percentage) is below the previous one."""
    keys = [(STAGE_ORDER[s], p) for s, p in states]
    return sum(1 for a, b in zip(keys, keys[1:]) if b < a)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result bag, with check_oracle's value
    normalization (columns in name order, floats to 10 digits)."""
    from tools.check_oracle import _norm_rows

    bag = _norm_rows(list(columns), [tuple(r) for r in rows])
    text = repr((sorted(columns), sorted(bag.items(), key=repr)))
    return hashlib.sha256(text.encode()).hexdigest()


@dataclass
class Job:
    """One execution's outcome, as the loop records it."""

    shape: str
    seconds: float
    ok: bool
    input_rows: int
    jobs_launched: int = 0
    progress: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)


@dataclass
class Shape:
    name: str
    # run(ctx) -> (result, progress states)
    run: Callable
    check: Callable
    input_rows: int
    # annotate(ctx), after a traced job: spans and counters that arrive
    # after the fact, recorded outside the job's timed interval
    annotate: Callable | None = None


class Context:
    """What a job needs at run time: the session, the input directory,
    the tracer and a scratch directory for checkpoints."""

    def __init__(self, spark, data_dir: str, work_dir: str, tracer, reader, listener=None):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.reader = reader
        self.listener = listener
        self.serial = 0
        # counters a shape measures itself, merged into the traced job's
        self.extra: dict = {}


# ---------------------------------------------------------------- queries
def _query_shape(name: str, expected: str, input_rows: int) -> Shape:
    from multi_threaded_mapreduce_framework_spark.queries import all_queries

    builder = all_queries()[name].builder

    def run(ctx: Context):
        tr = ctx.tracer
        j0 = ctx.reader.next_job_id() if tr.enabled else 0
        with tr.span("queries.builder"):
            df = builder(ctx.spark, ctx.data_dir)
        if tr.enabled:
            ctx.extra["builder_jobs"] = ctx.reader.next_job_id() - j0
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.action"):
            rows = df.collect()
        return (df.columns, rows), []

    def check(result) -> bool:
        columns, rows = result
        return result_hash(columns, rows) == expected

    return Shape(name, run, check, input_rows)


def _oracle_hashes(data_dir: str, names: tuple[str, ...]) -> dict[str, str]:
    import duckdb

    from multi_threaded_mapreduce_framework_spark.queries import oracle_sql
    from multi_threaded_mapreduce_framework_spark.sources import TABLES, table_path

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = table_path(data_dir, t)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = result_hash(cols, cur.fetchall())
        return out
    finally:
        con.close()


# Tables each query reads; their row counts are the job's input rows.
QUERY_TABLES = {
    "q88_tpch_q12": ("orders", "lineitem"),
    "q89_tpch_q13": ("customer", "orders"),
    "q98_contamination": ("documents",),
    "q195_winnowing_fingerprints": ("documents",),
}


class QueryWorkload:
    def __init__(self, names: tuple[str, ...], sizes: Sizes):
        self.names = names
        self.sizes = sizes

    def prepare(self, spark, data_dir: str) -> list[Shape]:
        expected = _oracle_hashes(data_dir, self.names)
        rows = self.sizes.tables()
        return [
            _query_shape(n, expected[n], sum(rows[t] for t in QUERY_TABLES[n]))
            for n in self.names
        ]


# -------------------------------------------------------------- mapreduce
def _char_client():
    # defined inside a function so cloudpickle ships them by value
    def char_map(row):
        return [(ch, 1) for ch in row.text]

    def count_reduce(key, values):
        return [(key, sum(values))]

    return char_map, count_reduce


def _word_client():
    def word_map(row):
        return [(w, 1) for w in row.text.split(" ")]

    def count_reduce(key, values):
        return [(key, sum(values))]

    return word_map, count_reduce


POLL_S = 0.05


def _mapreduce_shape(name: str, client, corpus: str, expected: dict, n_docs: int) -> Shape:
    from multi_threaded_mapreduce_framework_spark.operators import start_mapreduce_job

    map_fn, reduce_fn = client()

    def run(ctx: Context):
        tr = ctx.tracer
        states = []
        with tr.span("operators.mapreduce.submit"):
            docs = ctx.spark.read.parquet(corpus).select("text")
            handle = start_mapreduce_job(docs, map_fn, reduce_fn)
        with tr.span("operators.mapreduce.wait"):
            while True:
                done = handle.wait(POLL_S)
                with tr.span("operators.mapreduce.poll"):
                    st = handle.get_job_state()
                states.append((st.stage.name, st.percentage))
                if done:
                    break
        with tr.span("operators.mapreduce.result"):
            rows = handle.result()
        handle.close()
        return rows, states

    def check(rows) -> bool:
        got = {r.k3: r.v3 for r in rows}
        return len(got) == len(rows) and got == expected

    return Shape(name, run, check, n_docs)


class MapReduceWorkload:
    """Char-count (about 30 huge groups) alternating with word-count over
    the Zipf vocabulary (tens of thousands of small groups)."""

    FILES = 8  # corpus split into a fixed number of files, any core count

    def prepare(self, spark, data_dir: str) -> list[Shape]:
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
        corpus = os.path.join(data_dir, "corpus")
        os.makedirs(corpus, exist_ok=True)
        step = -(-table.num_rows // self.FILES)
        for i in range(self.FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(corpus, f"part-{i:02d}.parquet"))
        texts = table.column("text").to_pylist()
        chars, words = Counter(), Counter()
        for t in texts:
            chars.update(t)
            words.update(t.split(" "))
        n = table.num_rows
        return [
            _mapreduce_shape("char_count", _char_client, corpus, dict(chars), n),
            _mapreduce_shape("word_count", _word_client, corpus, dict(words), n),
        ]


# --------------------------------------------------------------- streaming
def _session_census(rows) -> list[tuple]:
    """q269's per-user census folded from the stream's per-session rows."""
    acc: dict[int, list[int]] = {}
    for r in rows:
        a = acc.setdefault(r.user_id, [0, 0, 0, 0])
        a[0] += 1
        a[1] += r.n_ev
        a[2] += r.dur_us
        a[3] = max(a[3], r.n_ev)
    return [(u, *a) for u, a in acc.items()]


def _batch_spans(ctx: Context) -> None:
    """One ``streaming.batch`` span per progress event of the query that
    just ran, placed by the event's own trigger timestamp under the job's
    ``streaming.run`` span."""
    from datetime import datetime

    ctx.reader.drain()
    recs = ctx.listener.take(f"perfbench_sessions_{ctx.serial}")
    spans = ctx.tracer.spans
    parent = max(i for i, s in enumerate(spans) if s.name == "streaming.run")
    shift = time.time() - time.perf_counter()
    for r in recs:
        start = datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = r["duration_ms"].get("triggerExecution", 0) / 1000.0
        ctx.tracer.add("streaming.batch", start - shift, start - shift + dur, parent,
                       batch=r["batch"])
    ctx.extra["batches"] = len(recs)
    ctx.extra["batch_records"] = recs


CENSUS_COLUMNS = ["user_id", "n_sessions", "n_events", "sum_dur_us", "max_session_events"]


class StreamWorkload:
    """q269's watermarked session-window stream over a seeded replay; a
    fresh checkpoint for every run, so each one pays the state store."""

    def __init__(self, sizes: Sizes):
        self.sizes = sizes

    def prepare(self, spark, data_dir: str) -> list[Shape]:
        from multi_threaded_mapreduce_framework_spark.queries.t2_streamq import (
            build_session_replay,
            run_session_stream,
        )

        expected = _oracle_hashes(data_dir, ("q269_stream_session_census",))[
            "q269_stream_session_census"
        ]
        replay = os.path.join(data_dir, "replay")
        build_session_replay(spark, data_dir, replay)

        def run(ctx: Context):
            ctx.serial += 1
            table = f"perfbench_sessions_{ctx.serial}"
            ckpt = os.path.join(ctx.work_dir, f"ckpt{ctx.serial}")
            try:
                with ctx.tracer.span("streaming.run"):
                    df = run_session_stream(ctx.spark, replay, ckpt, table)
                with ctx.tracer.span("exec.action"):
                    rows = df.collect()
            finally:
                ctx.spark.catalog.dropTempView(table)
                shutil.rmtree(ckpt, ignore_errors=True)
            return rows, []

        def check(rows) -> bool:
            return result_hash(CENSUS_COLUMNS, _session_census(rows)) == expected

        return [Shape("session_stream", run, check, self.sizes.events, _batch_spans)]


# ---------------------------------------------------------------- registry
# Two workloads with opposite layer mixes, so that each is the control for
# a change to the other's layers:
# - python_docs: the MapReduce client (Python RDD map, a groupByKey
#   shuffle that carries every value) and the text queries (eager builder
#   jobs, Arrow/pandas kernels) over the documents; nearly all of its
#   work runs in Python workers.
# - jvm_tables: the TPC-H joins (scan, Catalyst, codegen; small shuffles
#   after partial aggregation) and q269's session stream (state store,
#   WAL, micro-batches); it runs no Python code.
# Only queries whose outputs are integers or ratios of large integers:
# outputs rounded from a double (q53/q87 round(sum, 2), q35's Jaccard
# round(i/u, 2)) land on exact decimal ties under these value laws,
# where Spark and DuckDB round apart.
TEXT_QUERIES = ("q98_contamination", "q195_winnowing_fingerprints")
TPCH_QUERIES = ("q88_tpch_q12", "q89_tpch_q13")

# Row counts of fixture scale sf0.1, the engine's default input (bench.py,
# sources.DEFAULT_SF_DIR): 5,000 documents, 15,000 customers (600,000
# lineitem rows), 100,000 events over 1,500 users. The vocabulary is the
# benchmark's own: a Zipf law over 40,000 words gives word-count tens of
# thousands of mostly small groups. BENCHMARK.json's "why" lines quote
# these sizes.
SIZES = {
    "python_docs": Sizes(documents=5000, vocab=40000),
    "jvm_tables": Sizes(customers=15000, events=100000, users=1500),
}


class Workload:
    """The job shapes of its parts, run in turn within each round."""

    def __init__(self, sizes: Sizes, *parts):
        self.sizes = sizes
        self.parts = parts

    def prepare(self, spark, data_dir: str) -> list[Shape]:
        return [s for p in self.parts for s in p.prepare(spark, data_dir)]


def make(name: str) -> Workload:
    sizes = SIZES[name]
    if name == "python_docs":
        return Workload(sizes, MapReduceWorkload(), QueryWorkload(TEXT_QUERIES, sizes))
    if name == "jvm_tables":
        return Workload(sizes, QueryWorkload(TPCH_QUERIES, sizes), StreamWorkload(sizes))
    raise KeyError(name)

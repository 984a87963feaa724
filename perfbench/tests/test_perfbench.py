"""Self-tests of the benchmark; no Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, workloads  # noqa: E402
from perfbench.workloads import Job  # noqa: E402

SMALL = gen.Sizes(documents=200, vocab=500, customers=100, events=300, users=20)


def test_metric_names_and_units_are_pinned():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.SIZES)


def _tables(seed, out):
    gen.generate(seed, SMALL, str(out))
    return {t: pq.read_table(out / f"{t}.parquet") for t in SMALL.tables()}


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _tables(3, tmp_path / "a")
    b = _tables(3, tmp_path / "b")
    c = _tables(4, tmp_path / "c")
    assert set(a) == {"documents", "region", "nation", "supplier", "part",
                      "customer", "orders", "lineitem", "events"}
    for t in a:
        assert a[t].equals(b[t]), t
        assert a[t].num_rows == SMALL.tables()[t]
    # the fixed dimension tables are seed-free; every generated one moves
    for t in ("documents", "supplier", "part", "customer", "orders", "lineitem", "events"):
        assert not a[t].equals(c[t]), t


def test_injected_wrong_result_raises_error_rate():
    from pyspark.sql import Row

    shape = workloads._mapreduce_shape(
        "char_count", workloads._char_client, "unused", {"a": 2, "b": 1}, 1
    )
    right = [Row(k3="a", v3=2), Row(k3="b", v3=1)]
    wrong = [Row(k3="a", v3=3), Row(k3="b", v3=1)]
    assert shape.check(right)
    assert not shape.check(wrong)
    jobs = [Job("char_count", 1.0, shape.check(r), 1) for r in (right, right, wrong, right)]
    assert metrics.error_rate(jobs) == pytest.approx(0.25)
    assert metrics.error_rate(jobs[:2]) == 0.0

    cols = ["n_name", "revenue"]
    rows = [("NATION_1", 10.5), ("NATION_2", 3.25)]
    assert workloads.result_hash(cols, rows) == workloads.result_hash(cols[::-1], [r[::-1] for r in rows[::-1]])
    assert workloads.result_hash(cols, rows) != workloads.result_hash(cols, [rows[0], ("NATION_2", 3.26)])


def _traced_mapreduce(progress):
    j = Job("char_count", 1.0, True, 1, progress=progress)
    j.spans = {"job": {"total": 1.0, "self_sum": 1.0}}
    return j


def test_decreasing_progress_raises_progress_backwards():
    up = [("UNDEFINED", 0.0), ("MAP", 10.0), ("SHUFFLE", 0.0), ("REDUCE", 50.0), ("REDUCE", 100.0)]
    down = [("REDUCE", 0.0), ("REDUCE", 50.0), ("REDUCE", 40.0), ("MAP", 90.0), ("REDUCE", 100.0)]
    assert workloads.progress_backwards(up) == 0
    assert workloads.progress_backwards(down) == 2
    ok = metrics.per_layer([_traced_mapreduce(up)], [], 0.1, 100.0)
    bad = metrics.per_layer([_traced_mapreduce(up), _traced_mapreduce(down)], [], 0.1, 100.0)
    assert ok["operators.mapreduce.progress_backwards"] == 0
    assert bad["operators.mapreduce.progress_backwards"] == 2
    assert ok["operators.mapreduce.stages_seen"] == 4


def test_layer_means_count_only_jobs_that_used_the_layer():
    query, mapreduce = _traced_mapreduce([]), _traced_mapreduce([])
    query.spans["queries.builder"] = {"total": 0.4}
    query.counters = {"jobs": 3, "input_bytes": 10.0}
    mapreduce.counters = {"jobs": 1, "input_bytes": 10.0}
    out = metrics.per_layer([query, mapreduce], [], 0.1, 100.0)
    assert out["queries.builder_s"] == pytest.approx(0.4)
    assert out["exec.jobs"] == pytest.approx(2.0)
    assert out["streaming.batches"] == 0.0


def test_self_times_subtract_children_once():
    from perfbench.trace import Span, self_times

    spans = [Span("job", 0, 0.0, 10.0), Span("a", 0, 1.0, 4.0, parent=0),
             Span("b", 0, 3.0, 6.0, parent=0), Span("c", 0, 1.5, 2.0, parent=1)]
    st = self_times(spans)
    assert st["job"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(2.5)
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # a and b overlap by 1 s

"""Fixed per-job costs sized to the input, not the cluster: the parquet
schema memo (``sources.read_parquet``) and input-sized state partitions
for stateful streams (``streaming.start_stream``).

Both must leave every result unchanged: a pinned read has exactly the
schema Spark infers, a rewritten file is re-inferred, a missing path
still raises Spark's own error, a stream's scoped confs never leak
into the session, and every memoized result (``sources.session_memo``)
follows a rewritten input."""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import (
    TABLES,
    read_parquet,
    table_path,
)
from multi_threaded_mapreduce_framework_spark.streaming import (
    events_stream,
    replay_events,
    start_stream,
    state_partitions,
)

QUERIES = all_queries()
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
PARTITIONS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.parametrize("name", ["q88_tpch_q12", "q89_tpch_q13"])
def test_second_build_launches_no_jobs(spark, sf_dir, name):
    builder = QUERIES[name].builder
    builder(spark, sf_dir)
    j0 = _jobs(spark)
    builder(spark, sf_dir)
    assert _jobs(spark) - j0 == 0


def test_pinned_read_schema_equals_inferred(spark, sf_dir):
    saved = spark.conf.get(NANOS, None)
    try:
        cases = [(t, None) for t in TABLES if t != "events"]
        cases += [("events", "true"), ("events", "false")]
        for name, nanos in cases:
            if nanos is not None:
                spark.conf.set(NANOS, nanos)
            path = table_path(sf_dir, name)
            inferred = spark.read.parquet(path).schema
            read_parquet(spark, path)
            j0 = _jobs(spark)
            pinned = read_parquet(spark, path).schema
            assert _jobs(spark) == j0, name  # the memo hit runs no job
            # StructType equality compares names, types, nullability
            # and field metadata
            assert pinned == inferred, (name, nanos)
            assert [f.nullable for f in pinned] == [f.nullable for f in inferred]
    finally:
        if saved is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, saved)


def test_rewritten_file_is_reinferred_despite_restored_mtime(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    st = os.stat(path)
    # same size, same inode, old mtime: only the ctime tells them apart
    pq.write_table(pa.table({"b": pa.array([1, 2, 3], pa.int64())}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_ino, st2.st_size, st2.st_mtime_ns) == (
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
    )
    df = read_parquet(spark, path)
    assert df.columns == ["b"]
    assert [r.b for r in df.orderBy("b").collect()] == [1, 2, 3]


def test_schema_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"s": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("s", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("s", "string")]
    finally:
        spark.conf.unset(key)


def test_missing_path_raises_sparks_own_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "missing.parquet"))


def test_state_partitions_follow_input_bytes(spark, sf_dir, tmp_path):
    replay = str(tmp_path / "replay")
    replay_events(spark, sf_dir, replay, n_chunks=2)
    cores = spark.sparkContext.defaultParallelism
    assert state_partitions(spark, replay) == 1
    saved = spark.conf.get(ADVISORY, None)
    try:
        spark.conf.set(ADVISORY, "1")  # one byte: every file is oversized
        assert state_partitions(spark, replay) == cores
    finally:
        if saved is None:
            spark.conf.unset(ADVISORY)
        else:
            spark.conf.set(ADVISORY, saved)


def test_stream_state_partitions_pinned_in_checkpoint(spark, sf_dir, tmp_path):
    replay = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    replay_events(spark, sf_dir, replay, n_chunks=2)
    before = spark.conf.get(PARTITIONS)
    assert before != "1"
    writer = (
        events_stream(spark, replay)
        .groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("fixed_costs_census")
        .option("checkpointLocation", ckpt)
    )
    q = start_stream(spark, writer, replay)
    try:
        assert spark.conf.get(PARTITIONS) == before
        q.processAllAvailable()
    finally:
        q.stop()
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"][PARTITIONS] == "1"
    total = sum(r["count"] for r in spark.table("fixed_costs_census").collect())
    assert total == spark.read.parquet(table_path(sf_dir, "events")).count()


def test_q189_scopes_rocksdb_to_its_own_stream(spark, sf_dir):
    from multi_threaded_mapreduce_framework_spark.sources import fixtures
    from tools.check_oracle import check

    # force a fresh stream run, even if an earlier test built q189 (the
    # build itself empties its layout directory)
    for entry in [e for e in fixtures._MEMO if e[1] == ("q189_tws_totals", sf_dir)]:
        del fixtures._MEMO[entry]
    before = (spark.conf.get(PROVIDER, None), spark.conf.get(PARTITIONS, None))
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, 'events')}')"
        )
        status, _, _, detail = check(
            spark, con, QUERIES["q189_tws_state_readback"], sf_dir
        )
    finally:
        con.close()
    assert (spark.conf.get(PROVIDER, None), spark.conf.get(PARTITIONS, None)) == before
    assert status == "OK", detail


def test_spread_chain_recounts_a_rewritten_table(spark, tmp_path):
    from multi_threaded_mapreduce_framework_spark.queries.t2_multimodal import (
        _SPREAD_ROWS_PER_TASK,
        _spread_chain,
    )

    cores = spark.sparkContext.defaultParallelism
    if cores < 3:
        pytest.skip("fan-out is 2 at any row count on fewer than 3 cores")
    path = str(tmp_path / "docs.parquet")

    def write(n):
        pq.write_table(pa.table({"doc_id": pa.array(range(n), pa.int64())}), path)

    def fan_out():
        return _spread_chain(spark.read.parquet(path)).rdd.getNumPartitions()

    write(_SPREAD_ROWS_PER_TASK)
    assert fan_out() == 2
    write(_SPREAD_ROWS_PER_TASK * cores)  # same application, new table
    assert fan_out() == cores


def test_memoized_results_follow_a_rewritten_fixture(spark, sf_dir, tmp_path):
    """In one session, memoized results over a fixture that is then
    rewritten in place answer for the new input: the localCheckpoint-ed
    co-purchase pair counts, and q188's readback of the state a
    checkpointed stream wrote (a rebuild must not resume the previous
    version's checkpoint)."""
    from multi_threaded_mapreduce_framework_spark.queries.t2_assoc import (
        copurchase_pair_counts,
    )
    from tools.check_oracle import _norm_rows, check

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("lineitem", "events"):
        shutil.copyfile(table_path(sf_dir, t), table_path(sf, t))
    pairs_sql = """
        WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cnt
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2"""

    def assert_matches_input():
        con = duckdb.connect()
        try:
            for t in ("lineitem", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf, t)}')"
                )
            want = _norm_rows(["p1", "p2", "cnt"], con.execute(pairs_sql).fetchall())
            got = copurchase_pair_counts(spark, sf).select("p1", "p2", "cnt")
            assert _norm_rows(got.columns, got.collect()) == want
            status, _, _, detail = check(
                spark, con, QUERIES["q188_incremental_matview_readback"], sf
            )
            assert status == "OK", detail
        finally:
            con.close()

    assert_matches_input()
    for t, key, mod in (("lineitem", "l_orderkey", 2), ("events", "event_id", 3)):
        path = table_path(sf, t)
        table = pq.read_table(path)
        kept = table.filter(pa.array(table.column(key).to_numpy() % mod != 0))
        assert 0 < kept.num_rows < table.num_rows
        pq.write_table(kept, path)  # same path, new version
    assert_matches_input()

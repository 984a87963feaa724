"""The portability contract of functions/texthash.py, tested directly:
for arbitrary documents, Spark and DuckDB compute bit-identical token
hashes, shingle hashes, MinHash signatures, and SimHash fingerprints.
This is what entitles the sketch queries (q34-q36) to full value-hash
oracle checks instead of rows-only."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from multi_threaded_mapreduce_framework_spark.functions.texthash import (
    P,
    distinct_token_hashes,
    minhash_signature,
    minhash_signature_np,
    simhash,
    simhash_np,
    word_shingle_hashes,
)

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "a b",  # fewer than 3 words -> empty shingle set
    "x",
    "repeat repeat repeat repeat",
    "punctuation, unicode café and MIXED Case tokens!",
]

_DUCK_WORD_HASH = f"""list_transform(string_split(t, ' '),
  w -> list_reduce(list_transform(string_split(w, ''),
        c -> CAST(ascii(c) AS BIGINT)), (a,b) -> (a*31+b) % {P}))"""


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    # round-trip through parquet: a LocalRelation source makes the
    # optimizer constant-fold / interpret through the (unevaluable)
    # pandas UDFs under test; a file scan matches the real query shape
    path = str(tmp_path_factory.mktemp("texthash") / "docs.parquet")
    spark.createDataFrame(
        [(i, s) for i, s in enumerate(DOCS)], "i long, t string"
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{s.replace(chr(39), chr(39)*2)}')" for i, s in enumerate(DOCS))
        + ") AS v(i, t)"
    )
    return con


def test_token_hashes_match(docs_df, duck):
    spark_vals = {
        r.i: r.hs
        for r in docs_df.select("i", distinct_token_hashes("t").alias("hs")).collect()
    }
    duck_vals = dict(
        duck.execute(f"SELECT i, list_distinct({_DUCK_WORD_HASH}) FROM d").fetchall()
    )
    for i in spark_vals:
        assert sorted(spark_vals[i]) == sorted(duck_vals[i]), DOCS[i]


def test_shingle_hashes_match(docs_df, duck):
    spark_vals = {
        r.i: r.hs
        for r in docs_df.select("i", word_shingle_hashes("t").alias("hs")).collect()
    }
    duck_vals = dict(
        duck.execute(
            f"""SELECT i, list_distinct(list_transform(generate_series(1, len(wh)-2),
                  k -> ((wh[k]*1000003 + wh[k+1]) % {P} * 1000003 + wh[k+2]) % {P}))
                FROM (SELECT i, {_DUCK_WORD_HASH} AS wh FROM d)"""
        ).fetchall()
    )
    for i in spark_vals:
        assert sorted(spark_vals[i]) == sorted(duck_vals[i]), DOCS[i]


def test_word_shingle_hashes_np_parity(spark, docs_df):
    # r12 kernel: the numpy form must be BIT-equal to the Column form —
    # same values, same (first-occurrence distinct) order — including
    # empty words from doubled/leading/trailing spaces and non-ASCII
    from multi_threaded_mapreduce_framework_spark.functions.texthash import (
        word_shingle_hashes_np,
    )

    extra = spark.createDataFrame(
        [
            (100, "a  double  space doc"),
            (101, " leading and trail "),
            (102, "répé unïcode ché zz"),
            (103, "a b c a b c a b c"),
        ],
        "i bigint, t string",
    )
    both = docs_df.unionByName(extra).select(
        "i",
        word_shingle_hashes("t").alias("a"),
        word_shingle_hashes_np("t").alias("b"),
    )
    for r in both.collect():
        assert list(r.a) == list(r.b), r.i


def test_word_shingle_hashes_np_null_text(spark):
    # a NULL text has no shingles: the same empty array as the Column
    # form, so an explode of either drops the row
    from multi_threaded_mapreduce_framework_spark.functions.texthash import (
        word_shingle_hashes_np,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, None)], "i bigint, t string"
    )
    got = df.select(
        "i",
        word_shingle_hashes("t").alias("a"),
        word_shingle_hashes_np("t").alias("b"),
    ).collect()
    for r in got:
        assert list(r.a) == list(r.b), r.i
    exploded = df.select("i", F.explode(word_shingle_hashes_np("t")).alias("h"))
    assert {r.i for r in exploded.collect()} == {1}


def test_minhash_signature_match_and_np_parity(docs_df, duck):
    base = docs_df.select(
        "i", word_shingle_hashes("t").alias("hs")
    ).filter(F.size("hs") > 0)
    # 'hs' stays selected next to the UDF: a let()-built expression must
    # not be project-collapsed into a pandas-UDF argument (codegen/
    # extraction fails on it) — the double reference blocks the collapse
    hof = {r.i: r.sig for r in base.select("i", "hs", minhash_signature(F.col("hs")).alias("sig")).collect()}
    nps = {r.i: r.sig for r in base.select("i", "hs", minhash_signature_np(F.col("hs")).alias("sig")).collect()}
    hof = {i: list(v) for i, v in hof.items()}
    nps = {i: list(v) for i, v in nps.items()}
    assert hof == nps  # Arrow path == HOF path, element-exact
    duck_vals = dict(
        duck.execute(
            f"""SELECT i, list_transform(generate_series(0, 15),
                  s -> list_min(list_transform(hs, h -> ((17+13*s)*h + (91+7*s)) % {P})))
                FROM (SELECT i, list_distinct(list_transform(generate_series(1, len(wh)-2),
                        k -> ((wh[k]*1000003 + wh[k+1]) % {P} * 1000003 + wh[k+2]) % {P})) AS hs
                      FROM (SELECT i, {_DUCK_WORD_HASH} AS wh FROM d)) WHERE len(hs) > 0"""
        ).fetchall()
    )
    assert hof == {i: list(v) for i, v in duck_vals.items()}


def test_simhash_match_and_np_parity(docs_df, duck):
    base = docs_df.select("i", distinct_token_hashes("t").alias("hs"))
    hof = {r.i: r.sh for r in base.select("i", simhash("hs").alias("sh")).collect()}
    nps = {r.i: r.sh for r in base.select("i", simhash_np(F.col("hs")).alias("sh")).collect()}
    assert hof == nps
    duck_vals = dict(
        duck.execute(
            f"""SELECT i, CAST(list_sum(list_transform(generate_series(0, 15),
                  j -> CASE WHEN list_sum(list_transform(hs,
                             h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                       THEN (1 << j) ELSE 0 END)) AS BIGINT)
                FROM (SELECT i, list_distinct({_DUCK_WORD_HASH}) AS hs FROM d)"""
        ).fetchall()
    )
    assert hof == duck_vals

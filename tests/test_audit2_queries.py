"""Law-pinning tests for the embedding-audit tier (q226-q228):
q226's cross-label guarantee and block invariance, q227's margin
geometry on a separable crafted space and its named error on vectors of
another length, q228's card identities."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.queries.t2_audit2 import (
    q226_hard_negative_mining,
)

QUERIES = {n: q.builder for n, q in all_queries().items()}


def test_q226_negatives_are_cross_label_and_block_invariant(
    spark, sf_dir, monkeypatch
):
    """Every mined pair crosses labels; and the blocked-GEMM fan-out is
    a physical choice — B=1 (one group, true all-pairs) must emit the
    identical top-20 as the default B=4."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    out = QUERIES["q226_hard_negative_mining"](spark, sf_dir).collect()
    assert len(out) == 20
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for r in out:
        assert labels[r.anchor_id] != labels[r.neg_id]
        assert r.anchor_label == labels[r.anchor_id]
    import multi_threaded_mapreduce_framework_spark.queries.t2_audit2 as m

    monkeypatch.setattr(m, "_HARDNEG_BLOCKS", 1)
    single = q226_hard_negative_mining(spark, sf_dir).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in out]


def test_q227_separable_space_has_positive_margin(spark, tmp_path):
    """Crafted orthogonal clusters: every label's vectors sit exactly on
    its own axis => own_cos = 1, other_cos = 0, margin = 1."""
    rows = []
    vid = 0
    for lab in range(4):
        for _ in range(6):
            v = [0.0] * 64
            v[lab] = 1.0
            rows.append((vid, v, lab))
            vid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r.label: r for r in QUERIES["q227_class_separability"](spark, d).collect()}
    assert len(out) == 4
    for r in out.values():
        assert r.own_cos == 1.0 and r.other_cos == 0.0 and r.margin == 1.0


def test_q227_rejects_vectors_that_are_not_64_dim(spark, tmp_path):
    """q227's folds read 64 elements: a 65-dim corpus fails the query by
    name instead of silently dropping the 65th dimension."""
    rows = [(vid, [1.0 if i == vid % 65 else 0.0 for i in range(65)], vid % 3)
            for vid in range(12)]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    with pytest.raises(Exception, match="EMBEDDING_DIM_MISMATCH"):
        QUERIES["q227_class_separability"](spark, d).collect()


def test_q228_card_identities(spark, sf_dir):
    """Card numbers re-derived independently: doc/token totals, milli
    laws, quartile ordering, dup-rate consistency with q25's law."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    card = QUERIES["q228_dataset_card"](spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = [len(r.text.split(" ")) for r in docs]
    assert card.n_docs == len(docs)
    assert card.total_tokens == sum(toks)
    assert card.n_langs == len({r.lang for r in docs})
    assert card.n_sources == len({r.source for r in docs})
    assert card.mean_doc_tokens_milli == 1000 * sum(toks) // len(docs)
    assert card.short_docs_milli == 1000 * sum(1 for t in toks if t < 10) // len(docs)
    from collections import Counter

    c = Counter(r.text for r in docs)
    assert card.n_exact_dup_docs == sum(n for n in c.values() if n >= 2)
    assert card.quality_p25 <= card.quality_p50 <= card.quality_p90


def test_q229_survival_laws(spark, sf_dir):
    """Monotone laws of the survival table: at-risk counts and
    survival_milli are non-increasing in day; the at-risk ledger
    telescopes (n_at_risk(d+1) = n_at_risk(d) - n_conv(d)); hazard and
    survival match their integer definitions; day 0 starts at the full
    signup cohort."""
    from multi_threaded_mapreduce_framework_spark.sources import load_table

    rows = sorted(
        QUERIES["q229_conversion_survival"](spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    assert rows and rows[0].day == 0
    ev = load_table(spark, sf_dir, "events")
    n_signup = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[0].n_at_risk == n_signup
    total = rows[0].n_at_risk
    for i, r in enumerate(rows):
        assert r.hazard_milli == 1000 * r.n_conv // r.n_at_risk
        assert r.survival_milli == 1000 * (r.n_at_risk - r.n_conv) // total
        if i + 1 < len(rows):
            nxt = rows[i + 1]
            assert nxt.day == r.day + 1
            assert nxt.n_at_risk == r.n_at_risk - r.n_conv
            assert nxt.survival_milli <= r.survival_milli


def test_q229_all_convert_day_zero(spark, tmp_path):
    """Crafted cohort where every signup purchases within day 0: one
    row, hazard 1000, survival 0."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(5):
        rows.append((uid * 2, base, uid, "signup", 0.0, "{}"))
        rows.append(
            (uid * 2 + 1, base + dt.timedelta(hours=1), uid, "purchase", 1.0, "{}")
        )
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = QUERIES["q229_conversion_survival"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.day, r.n_at_risk, r.n_conv, r.hazard_milli, r.survival_milli) == (
        0, 5, 5, 1000, 0,
    )

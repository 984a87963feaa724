"""Seeded input generator: the benchmark's only source of data.

Every table is a pure function of ``(seed, sizes)`` and is written as
parquet with the schemas of FIXTURES.md (TPC-H dates as timestamp[ms],
``events.ts`` as timestamp[ns]), so the engine under test reads them
through the same paths as the fixture directories. The TPC-H and
events value laws are those of ``tools/scale_proof.py`` (``pmod`` of the
row id times a small prime), with the row id shifted by a seed-derived
offset so that each seed gives other values under the same law.
Documents draw their words from a seeded Zipf vocabulary, and a share of
them are edited copies of earlier documents so that near-duplicate
detection has pairs to find.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_COLORS = ("red", "blue", "green", "black", "small", "large", "steel", "brass")
PART_ITEMS = ("gear", "bolt", "widget", "ring", "valve", "spring", "nut")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "logout")
LANGS = ("en", "es", "de", "fr", "zh")
LETTERS = np.frombuffer(b"etaoinshrdlcumwfgypbvkjxqz", dtype=np.uint8)
# English-like letter weights, so character groups are as uneven as text
LETTER_W = np.array(
    [12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8,
     2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.2, 0.2, 0.1, 0.1]
)
DOC_WORDS = (20, 120)  # words per document, uniform
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input set."""

    documents: int = 0
    vocab: int = 0
    customers: int = 0  # orders 10x, lineitem 40x, suppliers /15, parts x1.3
    events: int = 0
    users: int = 0

    def tables(self) -> dict[str, int]:
        out = {}
        if self.documents:
            out["documents"] = self.documents
        if self.customers:
            out.update(
                region=len(REGIONS),
                nation=25,
                supplier=max(self.customers // 15, 10),
                part=self.customers * 13 // 10,
                customer=self.customers,
                orders=10 * self.customers,
                lineitem=40 * self.customers,
            )
        if self.events:
            out["events"] = self.events
        return out


def _offset(seed: int, name: str, modulus: int = 1_000_003) -> int:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return int.from_bytes(digest[:8], "little") % modulus


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _pick(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase ASCII words, shortest first, so that the
    most frequent Zipf ranks are short words as in natural text."""
    words: set[str] = set()
    out: list[str] = []
    p = LETTER_W / LETTER_W.sum()
    length = 2
    while len(out) < n:
        batch = rng.choice(LETTERS, size=(4 * n, length), p=p)
        for row in batch.view(f"S{length}").ravel():
            w = row.decode()
            if w not in words:
                words.add(w)
                out.append(w)
                if len(out) == n:
                    break
        length += 1
    return out


def documents(rng: np.random.Generator, sizes: Sizes) -> pa.Table:
    vocab = np.array(vocabulary(rng, sizes.vocab), dtype=object)
    ranks = np.arange(1, sizes.vocab + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** 1.07  # Zipf-Mandelbrot law
    p /= p.sum()
    n = sizes.documents
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    flat = rng.choice(sizes.vocab, size=int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(vocab[ws]) for ws in np.split(flat, cuts)]
    # every 8th document is an edited copy of an earlier one: a few of
    # its words are replaced, so near-duplicate pairs exist at any seed
    for i in range(8, n, 8):
        src = texts[int(rng.integers(0, i))].split(" ")
        for j in rng.integers(0, len(src), size=max(len(src) // 20, 1)):
            src[j] = str(vocab[int(rng.integers(0, sizes.vocab))])
        texts[i] = " ".join(src)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(LANGS, rng.integers(0, len(LANGS), size=n)),
            "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tpch(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables, scale_proof's laws over shifted ids."""
    n = sizes.tables()
    nc, no, nl = n["customer"], n["orders"], n["lineitem"]
    ns, npart = n["supplier"], n["part"]
    nk = np.arange(25, dtype=np.int64)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nk.astype(np.int32)),
                "n_name": pa.array([f"NATION_{k}" for k in nk], pa.string()),
                "n_regionkey": pa.array((nk % 5).astype(np.int32)),
            }
        ),
    }
    i = np.arange(ns, dtype=np.int64)
    j = i + _offset(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": i + 1,
            "s_name": pa.array([f"Supplier#{k + 1:09d}" for k in i], pa.string()),
            "s_nationkey": pa.array((j * 7 % 25).astype(np.int32)),
            "s_acctbal": (j * 3 % 1_000_000) / 100.0,
        }
    )
    i = np.arange(npart, dtype=np.int64)
    j = i + _offset(seed, "part")
    out["part"] = pa.table(
        {
            "p_partkey": i + 1,
            "p_name": pa.array(
                [
                    f"{PART_COLORS[a]} {PART_ITEMS[b]}"
                    for a, b in zip(j * 5 % len(PART_COLORS), j * 3 % len(PART_ITEMS))
                ],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in j * 11 % 25 + 1], pa.string()),
            "p_type": _pick(PART_TYPES, j * 13 % len(PART_TYPES)),
            "p_size": pa.array((j * 17 % 50 + 1).astype(np.int32)),
            "p_retailprice": 900.0 + (j % 1000) / 10.0,
        }
    )
    i = np.arange(nc, dtype=np.int64)
    j = i + _offset(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": i + 1,
            "c_name": pa.array([f"Customer#{k + 1:09d}" for k in i], pa.string()),
            "c_nationkey": pa.array((j % 25).astype(np.int32)),
            "c_acctbal": (j * 7 % 1_000_000) / 100.0,
            "c_mktsegment": _pick(SEGMENTS, j * 11 % 5),
        }
    )
    i = np.arange(no, dtype=np.int64)
    j = i + _offset(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": i + 1,
            "o_custkey": j * 31 % nc + 1,
            "o_orderstatus": _pick(("O", "F", "P"), j * 17 % 3),
            "o_totalprice": (j * 7919 % 50_000_000) / 100.0,
            "o_orderdate": pa.array(
                EPOCH_1995_MS + (j % 2400) * DAY_MS, pa.timestamp("ms")
            ),
            "o_orderpriority": _pick(PRIORITIES, j * 13 % 5),
        }
    )
    i = np.arange(nl, dtype=np.int64)
    j = i + _offset(seed, "lineitem")
    # 1 in 64 rows ships before its order date, as in scale_proof
    ship_days = j % 2400 + np.where(j % 64 == 0, -3, j * 7 % 60)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": j * 13 % no + 1,
            "l_partkey": j * 29 % npart + 1,
            "l_suppkey": (j // 3 + j * 37) % ns + 1,
            "l_linenumber": pa.array((j % 7 + 1).astype(np.int32)),
            "l_quantity": (j * 41 % 50 + 1).astype(np.float64),
            "l_extendedprice": (j * 43 % 9_000_000) / 100.0 + 900.0,
            "l_discount": (j * 47 % 11) / 100.0,
            "l_tax": (j * 53 % 9) / 100.0,
            "l_returnflag": _pick(("N", "R", "A"), j * 19 % 3),
            "l_linestatus": _pick(("O", "F"), j * 23 % 2),
            "l_shipdate": pa.array(
                EPOCH_1995_MS + ship_days * DAY_MS, pa.timestamp("ms")
            ),
        }
    )
    return out


def events(seed: int, sizes: Sizes) -> pa.Table:
    """scale_proof's burst law: each user's events land in a two-hour
    burst at a per-user offset within a 30-day month."""
    i = np.arange(sizes.events, dtype=np.int64)
    j = i + _offset(seed, "events")
    user = (j * 2654435761 % 1_000_003) % sizes.users
    sec = (user * 9973 + _offset(seed, "users")) % 2_584_800 + j * 193 % 7200
    return pa.table(
        {
            "event_id": i,
            "ts": pa.array(
                EPOCH_2024_NS + sec * 1_000_000_000 + j * 7919 % 1_000_000_000,
                pa.timestamp("ns"),
            ),
            "user_id": user,
            "event_type": _pick(EVENT_TYPES, j * 131 % 5),
            "value": (j * 97 % 10000) / 100.0,
            "props": pa.array([f'{{"k": {k}}}' for k in j * 61 % 100], pa.string()),
        }
    )


def generate(seed: int, sizes: Sizes, out_dir: str) -> dict[str, int]:
    """Write every table ``sizes`` asks for under ``out_dir``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    if sizes.documents:
        rng = np.random.default_rng([seed, 1])
        _write(documents(rng, sizes), out_dir, "documents")
    if sizes.customers:
        for name, table in tpch(seed, sizes).items():
            _write(table, out_dir, name)
    if sizes.events:
        _write(events(seed, sizes), out_dir, "events")
    return sizes.tables()

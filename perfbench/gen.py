"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``schemas.TESTDATA_TABLES``) as
one parquet file each, with the column names and types of the testdata
tiers in TESTDATA.md.  The same ``(seed, shape)`` always gives
byte-identical files, so a run is reproducible from its seed alone.

``EventShape`` and ``CorpusShape`` size the tables a workload stresses.
The relational tables stay small: no benchmarked query reads them, but
``io.ingest_managed`` ingests every table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class EventShape:
    events: int
    users: int
    days: int = 30
    zipf: float = 0.0  # 0 = uniform users; > 1 = Zipf exponent


@dataclass(frozen=True)
class CorpusShape:
    documents: int
    embeddings: int
    dim: int = 64
    clusters: int = 10


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def zipf_users(rng: np.random.Generator, n: int, users: int, a: float) -> np.ndarray:
    """User ids in [0, users) with P(rank k) ~ 1/k^a, ranks shuffled over ids."""
    w = 1.0 / np.arange(1, users + 1) ** a
    ids = rng.permutation(users)
    return ids[rng.choice(users, size=n, p=w / w.sum())]


def events_table(rng: np.random.Generator, shape: EventShape) -> pa.Table:
    """Events with the value shapes measured on the sf0.1 tier's events
    (100k rows): ``user_id`` uniform over the users (1,500 users with 45
    to 99 events each, the spread a uniform draw gives; no heavy tail),
    no repeated ``event_id`` and no repeated rows, ``ts`` uniform over 30
    days from 2024-01-01, five event types in equal shares, and ``value``
    exponential with mean 50 (measured mean 49.9, sd 49.6) in cents.
    ``shape.zipf`` > 0 skews the users instead; only the stream uses it."""
    n = shape.events
    ts = np.sort(rng.integers(0, shape.days * DAY_US, size=n)) + EPOCH_2024_US
    if shape.zipf > 0:
        users = zipf_users(rng, n, shape.users, shape.zipf)
    else:
        users = rng.integers(0, shape.users, size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(users.astype("int64")),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary; 5% are a copy
    of an earlier document with " dup" appended (near duplicates) and
    0.2% are exact copies."""
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]
    roll = rng.random(n)
    for i in range(1, n):
        if roll[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif roll[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def embeddings_table(rng: np.random.Generator, shape: CorpusShape) -> pa.Table:
    """Unit vectors around ``clusters`` centres, labelled by centre."""
    centres = rng.normal(0.0, 1.0, (shape.clusters, shape.dim))
    labels = rng.integers(0, shape.clusters, shape.embeddings)
    x = 0.1 * centres[labels] + rng.normal(0.0, 1.0, (shape.embeddings, shape.dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(shape.embeddings, dtype="int64")),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32")),
        }
    )


def relational_tables(rng: np.random.Generator, customers: int = 1500) -> dict[str, pa.Table]:
    """TPC-H-ish star schema at sf0.01 row counts."""
    n_c, n_s, n_p, n_o = customers, customers // 15, customers * 4 // 3, customers * 10
    d1995 = 788_918_400 * 1_000_000  # 1995-01-01
    day = DAY_US
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "large", "green"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "spring"])
    n_lines = rng.integers(1, 8, n_o)
    l_ok = np.repeat(np.arange(n_o), n_lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype("int32")
    n_l = len(l_ok)
    odate = d1995 + rng.integers(0, 2404, n_o) * day
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c, dtype="int64")),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
                "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_c)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s, dtype="int64")),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype("int32")),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_p, dtype="int64")),
                "p_name": pa.array(
                    np.char.add(np.char.add(adj[rng.integers(0, 8, n_p)], " "), noun[rng.integers(0, 8, n_p)])
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_p)]),
                "p_type": pa.array(ptypes[rng.integers(0, 6, n_p)]),
                "p_size": pa.array(rng.integers(1, 51, n_p).astype("int32")),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_o, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype("int64")),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_o), 2)),
                "o_orderdate": _ts(odate),
                "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_o)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_ok.astype("int64")),
                "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype("int64")),
                "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype("int64")),
                "l_linenumber": pa.array(l_no),
                "l_quantity": pa.array(rng.integers(1, 51, n_l).astype("float64")),
                "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_l), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
                "l_shipdate": _ts(odate[l_ok] + rng.integers(1, 122, n_l) * day),
            }
        ),
    }


def stream_slices(
    seed: int,
    n_slices: int,
    per_slice: int,
    users: int,
    zipf: float,
    slice_minutes: int,
    resend: float,
) -> list[pa.Table]:
    """Event-time-ordered landing slices for the stream workload.

    Slice ``i`` holds ``per_slice`` new events, with Zipf-skewed users,
    whose ``ts`` falls in its own ``slice_minutes`` window, plus a re-send
    (an identical copy) of a ``resend`` share of them.  Windows start at
    2024-01-01 and ``slice_minutes`` should be a multiple of the 10-minute
    dedup bucket, so every dedup key lives in exactly one slice.  Each
    slice is sorted by ``(ts, event_id)``."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    span = slice_minutes * 60 * 1_000_000
    out = []
    for i in range(n_slices):
        t = events_table(rng, EventShape(events=per_slice, users=users, zipf=zipf, days=1))
        ts = np.sort(rng.integers(0, span, per_slice)) + EPOCH_2024_US + i * span
        t = t.set_column(0, "event_id", pa.array(np.arange(per_slice, dtype="int64") + i * per_slice))
        t = t.set_column(1, "ts", _ts(ts))
        again = rng.choice(per_slice, int(per_slice * resend), replace=False)
        t = pa.concat_tables([t, t.take(np.sort(again))])
        out.append(t.sort_by([("ts", "ascending"), ("event_id", "ascending")]))
    return out


def write_inputs(
    out_dir: str, seed: int, events: EventShape, corpus: CorpusShape, customers: int = 1500
) -> None:
    """Write all ten tables for one workload under ``out_dir``.

    Each table draws from its own child generator, so changing one
    shape leaves the other tables byte-identical."""
    os.makedirs(out_dir, exist_ok=True)
    r_ev, r_doc, r_emb, r_rel = (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(4))
    _write(events_table(r_ev, events), out_dir, "events")
    _write(documents_table(r_doc, corpus.documents), out_dir, "documents")
    _write(embeddings_table(r_emb, corpus), out_dir, "embeddings")
    for name, table in relational_tables(r_rel, customers).items():
        _write(table, out_dir, name)

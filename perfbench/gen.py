"""Seeded input generators. The engine only ever sees what these return.

Every function takes a `random.Random` or a numpy `Generator` built from
the run's `--seed`, so one seed always yields the same inputs. The shapes
follow the engine's test corpora (a TPC-H-like star schema, an `events`
table, a `documents` table of short word-soup texts over a 30-word
vocabulary in five language labels, and 64-d unit `embeddings`).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# a second vocabulary no generated document uses: catalog upserts are
# written in it, so a search for one finds that document and no other
RARE_VOCAB = (
    "cosmic racing socks helmet touring frame saddle pedal chain gear "
    "carbon alloy spoke tyre brake lever"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

# share of turns that re-ask one of a few popular questions, so a result
# or plan cache in the engine would have something to hit
REPEAT_SHARE = 0.25
N_POPULAR = 4


def words(rng: random.Random, n: int, vocab=VOCAB) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


def doc_texts(rng: random.Random, n: int) -> list[str]:
    """`n` document texts of 10-99 words; 1% exact copies and 3% one-word
    variants of an earlier text, so exact and near dedup find pairs."""
    out: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            out.append(out[rng.randrange(i)])
        elif i > 10 and r < 0.04:
            ws = out[rng.randrange(i)].split()
            ws[rng.randrange(len(ws))] = "dup"
            out.append(" ".join(ws))
        else:
            out.append(words(rng, rng.randint(10, 99)))
    return out


def documents_table(rng: random.Random, n: int) -> pa.Table:
    texts = doc_texts(rng, n)
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(nrng: np.random.Generator, n: int, dims: int) -> np.ndarray:
    m = nrng.standard_normal((n, dims)).astype(np.float32)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def write_corpus_tables(root: str, seed: int) -> None:
    """The ten engine tables as parquet files under `root`, at the row
    counts of the engine's smallest test corpus (500 documents and
    embeddings, 6,000 line items)."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_orders, n_items, n_events = 1500, 6000, 1000
    n_docs = 500
    day0 = dt.datetime(1995, 1, 1)

    def cents(lo: float, hi: float, n: int) -> list[float]:
        return [round(rng.uniform(lo, hi), 2) for _ in range(n)]

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int64()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int64()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
                "c_acctbal": cents(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choices(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k=n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
                "s_acctbal": cents(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    rng.choice("blue cold hot large new old red small".split())
                    + " "
                    + rng.choice("anvil bolt gear gizmo plate ring rod widget".split())
                    for _ in range(n_part)
                ],
                "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
                "p_type": rng.choices(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k=n_part
                ),
                "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
                "p_retailprice": [round(900 + (i % 200) / 10, 2) for i in range(n_part)],
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_orders), pa.int64()),
                "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
                "o_orderstatus": rng.choices(["F", "O", "P"], k=n_orders),
                "o_totalprice": cents(1000, 500000, n_orders),
                "o_orderdate": pa.array(
                    [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": rng.choices(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k=n_orders
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array([rng.randrange(n_orders) for _ in range(n_items)], pa.int64()),
                "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_items)], pa.int64()),
                "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_items)], pa.int64()),
                "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n_items)], pa.int32()),
                "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_items)],
                "l_extendedprice": cents(900, 105000, n_items),
                "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_items)],
                "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_items)],
                "l_returnflag": rng.choices(["A", "N", "R"], k=n_items),
                "l_linestatus": rng.choices(["F", "O"], k=n_items),
                "l_shipdate": pa.array(
                    [day0 + dt.timedelta(days=rng.randrange(2500)) for _ in range(n_items)],
                    pa.timestamp("us"),
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(range(n_events), pa.int64()),
                "ts": pa.array(
                    sorted(
                        dt.datetime(2024, 1, 1)
                        + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                        for _ in range(n_events)
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(
                    [rng.randrange(max(1, n_events // 66)) for _ in range(n_events)], pa.int64()
                ),
                "event_type": rng.choices(["click", "error", "purchase", "signup", "view"], k=n_events),
                "value": cents(0.01, 330, n_events),
                "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
            }
        ),
        "documents": documents_table(rng, n_docs),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(range(n_docs), pa.int64()),
                "embedding": pa.array(list(unit_vectors(nrng, n_docs, 64)), pa.list_(pa.float32())),
                "label": pa.array(nrng.integers(0, 10, n_docs), pa.int32()),
            }
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def questions(rng: random.Random, n: int, min_words: int, max_words: int) -> list[str]:
    """`n` chat questions drawn from the document vocabulary; REPEAT_SHARE
    of them re-ask one of N_POPULAR fixed questions."""
    popular = [words(rng, rng.randint(min_words, max_words)) for _ in range(N_POPULAR)]
    return [
        rng.choice(popular) if rng.random() < REPEAT_SHARE
        else words(rng, rng.randint(min_words, max_words))
        for _ in range(n)
    ]


def catalog_upsert(rng: random.Random, key: str) -> tuple[str, str, str, str]:
    """A change record (_id, title, text, _op) that upserts a new product
    written in RARE_VOCAB, so a search for its text has exactly one right
    answer."""
    return key, f"product {key}", words(rng, rng.randint(12, 24), RARE_VOCAB), "upsert"

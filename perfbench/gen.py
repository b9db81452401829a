"""Seeded input generators for the benchmark.

Every table the workloads read is synthesised here from a seed, so a run
needs nothing but a source checkout. The shapes follow the engine's fixture
schema (TPC-H-style ``region`` … ``lineitem`` plus ``events``,
``documents`` and ``embeddings``) and the marginals of its 0.1-scale fixture:
uniform keys and categoricals, 2-decimal money columns (so the DuckDB oracle
and Spark agree bit for bit), microsecond NTZ timestamps, a 30-word
vocabulary with 10-100 words per document, and 64-dim L2-normalised
embeddings in 10 weak clusters.

Corpora carry planted duplicates: about 0.16 % exact copies and about 5 %
near copies (a random earlier document with ~8 % of its words resampled
and the marker word ``dup`` appended), the rates measured on the fixture.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EXACT_DUP_RATE = 8 / 5000
NEAR_DUP_RATE = 0.05
NEAR_DUP_MUTATE = 0.08
EMB_DIM = 64
EMB_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _write(tbl: pa.Table, dest: str, name: str) -> None:
    pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"))


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    """Rows shaped like ``orders`` for the given order keys."""
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
            "o_orderdate": _day_ts(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": pa.array(
                np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n)]
            ),
        }
    )


def write_relational(dest: str, seed: int, scale: float) -> str:
    """Write the eight TPC-H-style tables plus ``events`` at ``scale``
    (1.0 = the engine's SF1 row counts: 6M lineitem, 1.5M orders)."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_user = max(10, int(15_000 * scale))

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), type=pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        dest,
        "region",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), type=pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
            }
        ),
        dest,
        "nation",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(range(n_cust), type=pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                )[rng.integers(0, 5, n_cust)],
            }
        ),
        dest,
        "customer",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        dest,
        "supplier",
    )
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    names = np.char.add(
        np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
    )
    _write(
        pa.table(
            {
                "p_partkey": pa.array(range(n_part), type=pa.int64()),
                "p_name": names,
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
                )[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
                "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
            }
        ),
        dest,
        "part",
    )
    _write(orders_table(rng, np.arange(n_ord), n_cust), dest, "orders")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _day_ts(
                    rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line
                ),
            }
        ),
        dest,
        "lineitem",
    )
    start = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)) + start
    _write(
        pa.table(
            {
                "event_id": pa.array(range(n_evt), type=pa.int64()),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_user, n_evt), type=pa.int64()),
                "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                    rng.integers(0, 5, n_evt)
                ],
                "value": np.round(rng.gamma(2.0, 25.0, n_evt), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        ),
        dest,
        "events",
    )
    return dest


def write_corpus(
    dest: str,
    seed: int,
    n_docs: int,
    n_vecs: int,
    stream: int = 0,
    near_dup_rate: float = NEAR_DUP_RATE,
) -> str:
    """Write ``documents`` and ``embeddings`` with planted duplicates;
    ``stream`` draws independent corpora from one seed."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng([seed, 2, stream])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kinds[i] < EXACT_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < EXACT_DUP_RATE + near_dup_rate:
            words = texts[int(rng.integers(0, i))].split()
            n_mut = max(1, int(len(words) * NEAR_DUP_MUTATE))
            for j in rng.choice(len(words), size=min(n_mut, len(words)), replace=False):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    _write(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), type=pa.int64()),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
                "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        dest,
        "documents",
    )
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    vecs = rng.normal(size=(n_vecs, EMB_DIM)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), type=pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.astype(np.float32).ravel()), EMB_DIM
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(labels, type=pa.int32()),
            }
        ),
        dest,
        "embeddings",
    )
    return dest

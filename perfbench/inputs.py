"""Seeded input generators. Every input is a pure function of the seed and
the size, so two runs of one seed feed the program identical bytes.

The program only ever receives what these functions write: a pages corpus
(ER pipeline) and the five contract tables the headline queries read.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, salt: int) -> np.random.RandomState:
    return np.random.RandomState((seed * 1_000_003 + salt) % (2**31 - 1))


# ---------------------------------------------------------------------------
# ER corpus (pipeline workloads)
# ---------------------------------------------------------------------------

def write_corpus(spark, out_dir: str, seed: int, shape: dict) -> tuple[str, str]:
    """generate_corpus_dist → pages parquet + gold parquet. Returns paths."""
    from character_identification_spark.fixtures.pages_gen import (
        generate_corpus_dist,
        split_pages_gold,
    )

    raw_dir = os.path.join(out_dir, "raw")
    generate_corpus_dist(
        spark, seed=seed % (2**31 - 1), partitions=8, **shape
    ).write.parquet(raw_dir)
    pages, gold = split_pages_gold(spark.read.parquet(raw_dir))
    pages_dir, gold_dir = os.path.join(out_dir, "pages"), os.path.join(out_dir, "gold")
    pages.write.parquet(pages_dir)
    gold.write.parquet(gold_dir)
    return pages_dir, gold_dir


# ---------------------------------------------------------------------------
# contract tables (headline queries)
# ---------------------------------------------------------------------------

# Row counts and value shapes of the contract's sf0.1 tables,
# measured from the files (DuckDB) and reproduced here; a run scales every
# table, and the user and supplier key ranges, by one factor.
SF01_ROWS = dict(part=20000, documents=5000, embeddings=2000, events=100000,
                 lineitem=600000)
SF01_USERS, SF01_SUPPLIERS = 1500, 1000
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
_DUP_TOKEN_P = 0.05  # share of documents that end in the token "dup"
_DUP_TEXT_P = 0.0016  # share that repeat an earlier document verbatim
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def contract_rows(fraction: float) -> dict:
    """Rows per table at ``fraction`` of sf0.1."""
    return {t: max(1, round(n * fraction)) for t, n in SF01_ROWS.items()}


def write_contract_tables(out_dir: str, seed: int, fraction: float) -> None:
    """part / documents / embeddings / events / lineitem with the schemas,
    value distributions and table-size ratios of the contract's sf0.1 tables,
    at ``fraction`` of their row counts."""
    os.makedirs(out_dir)
    rows = contract_rows(fraction)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    r = rng_for(seed, 2)
    n = rows["part"]
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            r.randint(0, len(_ADJ), n), r.randint(0, len(_NOUN), n))],
        "p_brand": [f"Brand#{b}" for b in r.randint(1, 26, n)],
        "p_type": [_TYPES[t] for t in r.randint(0, len(_TYPES), n)],
        "p_size": pa.array(r.randint(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    }))

    r = rng_for(seed, 3)
    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i and r.rand() < _DUP_TEXT_P:
            texts.append(texts[int(r.randint(0, i))])
            continue
        toks = [_WORDS[w] for w in r.randint(0, len(_WORDS), r.randint(10, 100))]
        if r.rand() < _DUP_TOKEN_P:
            toks.append("dup")
        texts.append(" ".join(toks))
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in r.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    r = rng_for(seed, 4)
    n = rows["embeddings"]
    emb = r.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.randint(0, 10, n), pa.int32()),
    }))

    r = rng_for(seed, 5)
    n = rows["events"]
    start = dt.datetime(2024, 1, 1)
    offs = np.sort(r.randint(0, 30 * 86400 * 10**6, n))
    write("events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=int(o)) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(
            r.randint(0, max(1, round(SF01_USERS * fraction)), n), pa.int64()),
        "event_type": [_EVENT_TYPES[t] for t in r.randint(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.randint(0, 100, n)],
    }))

    r = rng_for(seed, 6)
    n = rows["lineitem"]
    ship0 = dt.datetime(1995, 1, 2)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(r.randint(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(r.randint(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(
            r.randint(0, max(1, round(SF01_SUPPLIERS * fraction)), n), pa.int64()),
        "l_linenumber": pa.array(r.randint(1, 8, n), pa.int32()),
        "l_quantity": r.randint(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
        "l_discount": r.randint(0, 11, n) / 100.0,
        "l_tax": r.randint(0, 9, n) / 100.0,
        "l_returnflag": [["R", "A", "N"][f] for f in r.randint(0, 3, n)],
        "l_linestatus": [["O", "F"][s] for s in r.randint(0, 2, n)],
        "l_shipdate": pa.array(
            [ship0 + dt.timedelta(days=int(d)) for d in r.randint(0, 2498, n)],
            pa.timestamp("us"),
        ),
    }))

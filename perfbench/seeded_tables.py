"""Seeded inputs for the benchmark's query workload.

The ``__spark_entry__`` queries read a TPC-H-ish star schema plus a
``documents`` table from an ``sf_dir``.  This module writes the two tables the
benchmark's query list reads, with the same schemas, from a seed:

- ``documents(doc_id, text, lang, source, n_chars)``: bags of words over
  a 30-word vocabulary, 5 % near-duplicates (a prior doc's text plus one
  or two ``dup`` tokens), so the set-similarity and dedup operators find
  real pairs;
- ``lineitem``: TPC-H column set with uniform keys, prices and dates
  spanning the Q1 shipdate cut-off.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "de", "es", "fr", "zh")


def documents(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed)
    dups = set(rng.sample(range(1, n), n // 20))  # a fixed 5 % near-duplicates
    texts: list[str] = []
    langs: list[str] = []
    sources: list[str] = []
    for i in range(n):
        if i in dups:
            text = texts[rng.randrange(i)] + " dup" * rng.randint(1, 2)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99)))
        texts.append(text)
        langs.append(rng.choice(_LANGS))
        sources.append(f"src{rng.randrange(20)}")
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lineitem(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed + 1)
    t0 = datetime(1992, 1, 1)
    cols: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for _ in range(n):
        qty = float(rng.randint(1, 50))
        cols["l_orderkey"].append(rng.randrange(max(1, n // 4)))
        cols["l_partkey"].append(rng.randrange(200))
        cols["l_suppkey"].append(rng.randrange(10))
        cols["l_linenumber"].append(rng.randint(1, 7))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
        cols["l_discount"].append(rng.randint(0, 10) / 100)
        cols["l_tax"].append(rng.randint(0, 8) / 100)
        cols["l_returnflag"].append(rng.choice("ANR"))
        cols["l_linestatus"].append(rng.choice("OF"))
        cols["l_shipdate"].append(t0 + timedelta(days=rng.randrange(3600)))
    types = {"l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    return pa.table({k: pa.array(v, types.get(k)) for k, v in cols.items()})


def write_sf_tables(sf_dir: str, seed: int, n_docs: int, n_lineitem: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(n_docs, seed), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(lineitem(n_lineitem, seed), os.path.join(sf_dir, "lineitem.parquet"))

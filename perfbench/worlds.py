"""Benchmark inputs, generated once per checkout and cached.

Two kinds of input, both independent of the workload seed (the seed only
picks crawl seed URLs and the analytics query order):

* crawl worlds: the engine's own synthetic page table
  (``sources.pages.build_pages``), written as parquet by Spark;
* analytics tables: a TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` with the column names, types and value ranges of the
  tables the query registry is written against, generated with numpy at a
  fixed seed.

Everything lives under the checkout's ``.bench_build/perfbench`` directory,
so a fresh checkout regenerates it and no run reads outside the checkout.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INT32_MAX = (1 << 31) - 1


@dataclass(frozen=True)
class CrawlWorld:
    """One crawl workload's inputs and engine settings."""

    name: str
    n_pages: int
    payload_repeat: int
    n_seeds: int
    robots: bool
    default_per_host: int
    hot_per_batch: int
    batch_cap: int
    bloom_min_seen: int
    warmup_batches: int
    # the timed window is a fixed run of batches, sized so it lasts about
    # ``--seconds`` on 4 cores: every seed then times the same batch
    # indices (the per-batch shape depends on the index, hardly on the seed)
    batch_s: float
    max_timed: int


# Sizes keep one run (JVM start, three set-ups, warm-up, an ~8 s window and
# the oracle check) under ~45 s on 4 cores. Every timed batch fetches its
# crawl's full cap.
CRAWL_WORLDS = {
    # north-star throughput shape: ~25 KB JSON per page, caps that cannot
    # bind (the capping window short-circuits), Bloom dedup from batch 1
    # (bloom_min_seen=0), a fixed batch size so every batch does equal work
    "crawl_bulk": CrawlWorld(
        name="crawl_bulk",
        n_pages=24_000,
        payload_repeat=400,
        n_seeds=3072,
        robots=False,
        default_per_host=INT32_MAX,
        hot_per_batch=INT32_MAX,
        batch_cap=3072,
        bloom_min_seen=0,
        warmup_batches=1,  # 3072 seeds fill the first batch already
        batch_s=4.0,
        max_timed=5,  # the 24k-page world drains from batch 8 on
    ),
    # politeness-bound shape: light pages, robots on, per-host caps that
    # bind every batch; the seen set stays under bloom_min_seen, so dedup
    # is the exact join
    "crawl_polite": CrawlWorld(
        name="crawl_polite",
        n_pages=20_000,
        payload_repeat=1,
        n_seeds=256,
        robots=True,
        default_per_host=40,
        hot_per_batch=20,
        batch_cap=1 << 30,
        bloom_min_seen=2_000_000,
        warmup_batches=2,
        batch_s=2.0,
        max_timed=20,
    ),
}

# Toy sizes for the smoke run: the same shapes, seconds per batch.
TOY_CRAWL_WORLDS = {
    "crawl_bulk": CrawlWorld("crawl_bulk", 2_000, 20, 256, False, INT32_MAX, INT32_MAX, 256, 0, 1, 1.0, 3),
    "crawl_polite": CrawlWorld("crawl_polite", 1_000, 1, 32, True, 6, 3, 1 << 30, 2_000_000, 1, 1.0, 3),
}


def crawl_pages(spark, work: str, world: CrawlWorld) -> str:
    """Path of the world's page table, building it on first use."""
    from openalex_collaboration_crawler_spark.sources.pages import build_pages

    path = os.path.join(work, "worlds", f"{world.name}-{world.n_pages}-{world.payload_repeat}")
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        build_pages(spark, n_pages=world.n_pages, payload_repeat=world.payload_repeat).write.parquet(
            path
        )
    return path


# ----------------------------------------------------------- analytics tables

_VOCAB = (
    "a the data query join filter scan sort merge hash agg group window row column "
    "table key value part order line customer spark stream batch vector small big "
    "fast slow"
).split()
_LANGS = ("en", "de", "fr", "es", "it", "zh")
_LANG_P = (0.5, 0.15, 0.1, 0.1, 0.1, 0.05)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
_ADJ = ("blue", "cold", "hot", "large", "small", "red", "green", "old")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENTS = ("click", "error", "purchase", "signup", "view")


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(42)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    day_us = 86_400 * 1_000_000

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    o_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts("1995-01-01", o_days * day_us),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    l_part = rng.integers(0, n_part, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (l_part % 1000) * 0.1), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-01", (o_days[l_ord] + rng.integers(1, 121, n_li)) * day_us),
        }
    )
    events = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
            "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.08:  # planted near-duplicate
            texts.append(texts[i - 1 - int(rng.integers(0, 10))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(20, 90)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def analytics_tables(work: str, sf: float) -> str:
    """Directory of ``<table>.parquet`` files at scale ``sf``, built on first use."""
    path = os.path.join(work, "tables", f"sf{sf}")
    done = os.path.join(path, "_SUCCESS")
    if not os.path.isfile(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        for name, table in _tables(sf).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        open(done, "w").close()
    return path

"""Differential check of the pair-emitting queries (the blocking
operators and the collaboration-edge chain) against their oracles at
sf0.001, through the same comparison as tools/check_correctness.py
(row count, columns, dtypes, values). louvain's oracle is a golden
membership solved offline at sf0.01 (its weight >= 3 backbone is empty
at sf0.001), so louvain runs at sf0.01."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod
from openalex_collaboration_crawler_spark.sources.tables import TABLES

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check_correctness import compare  # noqa: E402

PAIR_QUERIES = (
    "minhash_candidates",
    "ngram_jaccard",
    "simhash_neardup",
    "embedding_neardup",
    "ann_lsh_topk",
    "pairwise_edges",
    "weighted_edges",
    "interval_routing",
    "degree_stats",
    "ccdf",
    "louvain",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", PAIR_QUERIES)
def test_pair_query_matches_oracle(spark, sf_dir, duck, name):
    if name == "louvain":
        sf_dir = str(Path(sf_dir).with_name("sf0.01"))
    got = entrymod.queries()[name](spark, sf_dir).toPandas()
    want = duck.sql(entrymod.oracle_sql()[name]).df()
    assert len(want) > 0, f"{name}: empty oracle result proves nothing"
    assert compare(name, got, want) == []

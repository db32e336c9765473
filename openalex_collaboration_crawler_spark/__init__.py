"""openalex_collaboration_crawler_spark — a from-scratch, PySpark-native
crawl + collaboration-analytics engine.

Re-expresses the query/data-processing capabilities of the reference
``alpha-unito/openalex-collaboration-crawler`` (a C++/Python batch
pipeline over local OpenAlex gzip-JSONL snapshots) as an idiomatic
Spark engine:

- ``sources``   — page-table / OpenAlex-snapshot readers & deterministic
  synthetic generators (no external data).
- ``functions`` — column-expression library: portable hashing, URL
  canonicalization, text quality/shingling, vector math.
- ``operators`` — the reference's dataflow operators (SURVEY.md §2)
  plus large-scale training-data ops (dedup, similarity search,
  text analysis, multimodal plumbing).
- ``streaming`` — URL frontier, seen-set, politeness scheduler and the
  checkpoint/resume crawl loop.

Everything is DataFrame/SQL + Arrow-vectorized UDFs; no per-row Python
in any hot path, no RDDs, no custom Catalyst rules.
"""

__version__ = "0.1.0"

"""Papers pipeline (reference ``openalex_papers``, SURVEY §3.2).

One scan, two outputs — exactly the reference's fused shape
(papers.cpp:94-242 runs filter+passthrough and the topic/subfield
aggregation in a single pass; here: one cached parse, two plans).

Filter chain per raw line, with every §4.3 parity trap preserved:

  P3  raw contains '"CC"'            (decompress.cpp:124 — substring,
                                      matches anywhere incl. titles)
  P4  raw contains concept URI       (decompress.cpp:128)
  P5  reject if ∃ concept with id == target AND score <= confidence
                                      (openalex_json.cpp:233-240;
                                      note <= and default 0.5 — the
                                      graph stage uses >= with
                                      default 0: operators/edges.py)
  parse guard: malformed JSON / missing publication_year|authorships|
      concepts|topics → paper skipped (simdjson exception path)
  J1  keep iff ∃ authorship: countries-concat contains CC (substring
      on ','-joined string, NOT array membership —
      openalex_json.cpp:253-262) AND lower(display_name) ∈ keep list
      (broadcast left-semi join; papers.cpp:115-128 set load)
  S6  kept lines passed through VERBATIM (decompress.cpp:152)

Topic/subfield × year distributions (A2) count every paper that
passes P3+P4+P5 and parses — including papers later dropped by the
keep-list (the reference counts before the keep check,
decompress.cpp:136-150). Catalyst's partial+final hash agg replaces
the per-thread map merge (papers.cpp:184-200).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.sources.openalex import parse_works

DEFAULT_CONFIDENCE = 0.5  # papers.cpp:79


def _raw_prefilters(raw: DataFrame, country: str, concept_uri: str) -> DataFrame:
    out = raw.where(F.col("raw").contains(f'"{country}"'))
    if concept_uri:
        out = out.where(F.col("raw").contains(concept_uri))
    return out


def _confidence_reject(concept_uri: str, confidence: float) -> Column:
    """True when the paper must be rejected: the target concept appears
    with score <= confidence (openalex_json.cpp:233-240)."""
    return F.exists(
        "w.concepts",
        lambda c: (c["id"] == concept_uri) & (c["score"] <= F.lit(confidence)),
    )


def _parse_ok() -> Column:
    """Reference parse reaches the end only if these fields exist
    (simdjson throws on missing field access, openalex_json.cpp:
    225-284): concepts, authorships, publication_year, topics (each
    with display_name + subfield.display_name)."""
    return (
        F.col("w").isNotNull()
        & F.col("w.concepts").isNotNull()
        & F.col("w.authorships").isNotNull()
        & F.col("w.publication_year").isNotNull()
        & F.col("w.topics").isNotNull()
        & ~F.exists(
            "w.topics",
            lambda t: t["display_name"].isNull() | t["subfield"]["display_name"].isNull(),
        )
    )


def parsed_candidates(
    raw: DataFrame,
    country: str,
    concept_uri: str,
    confidence: float = DEFAULT_CONFIDENCE,
) -> DataFrame:
    """Papers passing P3+P4+P5 and the parse guard — the population the
    topic distributions count."""
    pre = _raw_prefilters(raw, country, concept_uri)
    parsed = parse_works(pre)
    ok = parsed.where(_parse_ok())
    if concept_uri:
        ok = ok.where(~_confidence_reject(concept_uri, confidence))
    return ok


def keep_papers(
    candidates: DataFrame,
    keep_names: DataFrame,
    country: str,
) -> DataFrame:
    """J1 semi-join: paper kept iff ∃ authorship whose countries string
    contains the country code and whose lowercased display_name is in
    the keep list. ``keep_names`` has one column ``name`` (already
    lowercased by the loader, papers.cpp:115-128). Returns the kept
    raw lines verbatim (S6).

    Rows are keyed on the work id (``w.id``, unique in the OpenAlex
    data model) — NOT a synthetic ``monotonically_increasing_id``,
    whose values depend on partition layout and are not stable across
    the two plan branches under AQE re-planning / task retries.

    Single-pass shape (r6): ``raw`` rides the authorship explode and
    the kept line is recovered with ``groupBy(__wid).first(raw)``
    instead of a ``base ⋉ hits`` self-reference — Catalyst does not
    share common subplans, so the old two-branch semi-join executed
    the whole scan→prefilter→``parse_works`` subtree TWICE per run
    (plan audit: every upstream table scanned 2×). One corpus parse
    vs two far outweighs the added shuffle of the kept lines (already
    the operator's output, × the per-work author-hit factor; the
    broadcast keep-list join keeps the explode un-shuffled, guide
    §3.3). Exactly equivalent under w.id uniqueness — every row of a
    ``__wid`` group carries the identical ``raw``, so ``first`` is
    value-deterministic, and uniqueness is already load-bearing for
    this operator's one-row-per-kept-work contract (see above). Works
    without an id are dropped: grouped, they would form one null group
    and emit one arbitrary ``raw``."""
    au = candidates.select(
        F.col("w.id").alias("__wid"), "raw", F.explode("w.authorships").alias("a")
    )
    # reference builds ",US,IT" then substring-searches the code
    aff_str = F.when(
        F.size(F.coalesce(F.col("a.countries"), F.array().cast("array<string>"))) > 0,
        F.concat(F.lit(","), F.array_join("a.countries", ",")),
    ).otherwise(F.lit(""))
    return (
        au.where(aff_str.contains(country))
        .select(
            "__wid",
            "raw",
            F.lower(F.coalesce(F.col("a.author.display_name"), F.lit(""))).alias("name"),
        )
        .join(F.broadcast(keep_names.select(F.lower("name").alias("name"))), "name", "left_semi")
        .where(F.col("__wid").isNotNull())
        .groupBy("__wid")
        .agg(F.first("raw").alias("raw"))
        .select("raw")
    )


def topic_distributions(candidates: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(topic × year, subfield × year) counts over parsed candidates
    (openalex_json.cpp:267-284 partial; papers.cpp:184-200 merge)."""
    t = candidates.select(
        F.col("w.publication_year").alias("year"), F.explode("w.topics").alias("t")
    )
    topics = t.groupBy(F.col("t.display_name").alias("topic"), "year").agg(
        F.count("*").alias("n")
    )
    subfields = t.groupBy(
        F.col("t.subfield.display_name").alias("subfield"), "year"
    ).agg(F.count("*").alias("n"))
    return topics, subfields


def papers_pipeline(
    raw: DataFrame,
    keep_names: DataFrame,
    country: str,
    concept_uri: str,
    confidence: float = DEFAULT_CONFIDENCE,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(kept_raw, topics_dist, subfields_dist) — the reference's two
    outputs from one scan. Callers should ``.persist()`` the
    candidates when materializing all three."""
    cand = parsed_candidates(raw, country, concept_uri, confidence)
    topics, subfields = topic_distributions(cand)
    kept = keep_papers(cand, keep_names, country)
    return kept, topics, subfields


# ----- graph-stage concept filter (P6 — different comparison & default)


def graph_topics(works: DataFrame, confidence: float = 0.0) -> DataFrame:
    """Concept list for edge metadata (graph.cpp:104-125): keep
    concepts with score >= confidence (NOT the papers stage's
    <=-reject, SURVEY §4.3.2); missing display_name falls back to the
    prefix-stripped concept id (graph.cpp:115-125)."""
    c = works.select(
        F.col("w.id").alias("work_id"), F.explode("w.concepts").alias("c")
    ).where(F.col("c.score") >= F.lit(confidence))
    label = F.coalesce(
        F.col("c.display_name"),
        F.regexp_replace(F.col("c.id"), "^https://openalex.org/", ""),
    )
    return c.select("work_id", label.alias("topic"), F.col("c.score").alias("score"))


def strip_prefix(col: Column | str) -> Column:
    """Remove the OpenAlex URI prefix from ids (graph.cpp:260, 429-432)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "^https://openalex.org/", "")

"""Golden-fixture tests for the OpenAlex author/papers pipelines
(FIXTURES.md F2/F3 — every §4.3 parity trap)."""

from __future__ import annotations

import json

from openalex_collaboration_crawler_spark.operators.authors import (
    author_names,
    compact_author_records,
    compress_author_affmap,
    extract_author_affs,
)
from openalex_collaboration_crawler_spark.operators.papers import (
    graph_topics,
    papers_pipeline,
    parsed_candidates,
)
from openalex_collaboration_crawler_spark.sources.openalex import parse_works, raw_from_lines

AUTHOR_LINES = [
    # normal: IT 2019/2020 + missing-institution 2021 + non-numeric year
    json.dumps(
        {
            "id": "https://openalex.org/A1",
            "display_name": "Ada Lovelace",
            "affiliations": [
                {"institution": {"country_code": "IT"}, "years": [2019, 2020]},
                {"years": [2021]},
                {"institution": {}, "years": ["x"]},
            ],
        }
    ),
    # missing id → "not found"; one US aff
    json.dumps(
        {
            "display_name": "Alan Turing",
            "affiliations": [{"institution": {"country_code": "US"}, "years": [2020]}],
        }
    ),
    # empty affiliations → dropped at extract
    json.dumps({"id": "https://openalex.org/A3", "display_name": "Empty", "affiliations": []}),
    # same display_name as A1, different id → merged at compress (§4.3.3)
    json.dumps(
        {
            "id": "https://openalex.org/A4",
            "display_name": "Ada Lovelace",
            "affiliations": [{"institution": {"country_code": "FR"}, "years": [2020]}],
        }
    ),
    # duplicate (country,year) pairs kept at extract, deduped at compress (§4.3.5)
    json.dumps(
        {
            "id": "https://openalex.org/A5",
            "display_name": "Dup Pairs",
            "affiliations": [
                {"institution": {"country_code": "IT"}, "years": [2020, 2020]},
                {"institution": {"country_code": "IT"}, "years": [2020]},
            ],
        }
    ),
    # country code only inside display_name → P3 substring trap
    json.dumps(
        {
            "id": "https://openalex.org/A6",
            "display_name": 'Trap "IT" Name',
            "affiliations": [{"institution": {"country_code": "DE"}, "years": [2022]}],
        }
    ),
]


def test_extract_author_affs_sentinels_and_cartesian(spark):
    got = extract_author_affs(raw_from_lines(spark, AUTHOR_LINES)).collect()
    rows = {(r["id"], r["country"], r["year"]) for r in got}
    assert ("https://openalex.org/A1", "IT", "2019") in rows
    assert ("https://openalex.org/A1", "IT", "2020") in rows
    assert ("https://openalex.org/A1", "No institution found", "2021") in rows
    assert ("https://openalex.org/A1", "No institution found", "-1") in rows  # non-numeric
    assert ("not found", "US", "2020") in rows  # missing id sentinel
    assert not any(r["id"] == "https://openalex.org/A3" for r in got)  # empty affs dropped
    # duplicates allowed at extract: A5 has IT/2020 three times
    a5 = [r for r in got if r["id"] == "https://openalex.org/A5"]
    assert len(a5) == 3


def test_compress_groups_by_display_name_and_dedups(spark):
    compact = compact_author_records(raw_from_lines(spark, AUTHOR_LINES))
    affmap = compress_author_affmap(compact)
    got = {(r["display_name"], r["year"]): list(r["countries"]) for r in affmap.collect()}
    # two distinct ids with the same name merge; 2020 has FR and IT
    assert got[("Ada Lovelace", "2020")] == ["FR", "IT"]
    assert got[("Dup Pairs", "2020")] == ["IT"]  # deduped
    names = {r["display_name"] for r in author_names(affmap).collect()}
    # the quoted trap name is lost at compress regardless of filter
    # (invalid JSON in the reference's unescaped serializer)
    assert names == {"Ada Lovelace", "Alan Turing", "Dup Pairs"}


def test_compress_country_substring_trap(spark):
    """P3 + the serialization quirk: the reference writes compact
    records unescaped (decompress.cpp:62-71), so a display_name
    containing a double quote produces an INVALID JSON line — it
    passes the '"IT"' substring filter but dies at parse and is
    silently lost (openalex_json.cpp:101-104). Observable outcome:
    quote-bearing names never reach the AffMap, even with genuine
    matching affiliations."""
    compact = compact_author_records(raw_from_lines(spark, AUTHOR_LINES))
    affmap = compress_author_affmap(compact, country_filter="IT")
    names = {r["display_name"] for r in author_names(affmap).collect()}
    assert "Ada Lovelace" in names
    assert "Dup Pairs" in names
    assert 'Trap "IT" Name' not in names  # lost to the broken serializer
    assert "Alan Turing" not in names  # no "IT" anywhere in his line


def test_compress_drops_quoted_names_even_with_real_affiliation(spark):
    line = json.dumps(
        {
            "id": "https://openalex.org/A9",
            "display_name": 'Real "Quoted" Author',
            "affiliations": [{"institution": {"country_code": "IT"}, "years": [2020]}],
        }
    )
    compact = compact_author_records(raw_from_lines(spark, [line]))
    affmap = compress_author_affmap(compact, country_filter="IT")
    assert affmap.count() == 0  # reference loses this author; so do we


CONCEPT = "https://openalex.org/C41008148"


def _work(
    wid: str,
    year: int | None = 2020,
    concepts=None,
    authorships=None,
    topics=None,
    title: str = "",
    extra: dict | None = None,
) -> str:
    d: dict = {"id": f"https://openalex.org/{wid}"}
    if year is not None:
        d["publication_year"] = year
    if concepts is not None:
        d["concepts"] = concepts
    if authorships is not None:
        d["authorships"] = authorships
    if topics is not None:
        d["topics"] = topics
    if title:
        d["title"] = title
    if extra:
        d.update(extra)
    return json.dumps(d)


def _auth(name: str, countries=("IT",)):
    return {
        "author": {"id": "https://openalex.org/A1", "display_name": name},
        "countries": list(countries),
    }


TOPIC = [{"display_name": "Distributed computing", "subfield": {"display_name": "Networks"}}]

WORK_LINES = [
    # kept: concept above confidence, IT author in keep list
    _work("W1", 2020, [{"id": CONCEPT, "score": 0.61}], [_auth("Ada Lovelace")], TOPIC),
    # rejected by P5: target concept score <= 0.5
    _work("W2", 2020, [{"id": CONCEPT, "score": 0.5}], [_auth("Ada Lovelace")], TOPIC),
    # no country substring anywhere → P3 drop
    _work("W3", 2020, [{"id": CONCEPT, "score": 0.9}], [_auth("Ada Lovelace", ())], TOPIC),
    # P3 trap: the bytes '"IT"' appear only as an unrelated field's
    # value (valid-JSON form of the substring trap — quotes inside
    # strings are escaped in real JSONL, so the trap fires via whole
    # values); countries empty → passes P3, counted in distributions,
    # but keep-list check fails (no IT affiliation)
    _work(
        "W4",
        2021,
        [{"id": CONCEPT, "score": 0.9}],
        [_auth("Ada Lovelace", ())],
        TOPIC,
        extra={"some_unrelated_code": "IT"},
    ),
    # author not in keep list → dropped at J1 but still counted in dist
    _work("W5", 2021, [{"id": CONCEPT, "score": 0.9}], [_auth("Nobody Known")], TOPIC),
    # missing publication_year → parse guard drops it entirely
    _work("W6", None, [{"id": CONCEPT, "score": 0.9}], [_auth("Ada Lovelace")], TOPIC),
    # concept URI absent → P4 drop
    _work("W7", 2020, [{"id": "https://openalex.org/C999", "score": 0.9}], [_auth("Ada")], TOPIC),
]


def _keep(spark):
    return spark.createDataFrame([("ada lovelace",)], ["name"])


def test_papers_pipeline_filters_and_passthrough(spark):
    raw = raw_from_lines(spark, WORK_LINES)
    kept, topics, subfields = papers_pipeline(raw, _keep(spark), "IT", CONCEPT)
    kept_lines = [r["raw"] for r in kept.collect()]
    assert kept_lines == [WORK_LINES[0]]  # verbatim passthrough, only W1
    # distributions count W1 (2020), W4 (2021), W5 (2021):
    # W2 rejected by confidence, W3 by P3, W6 by parse guard, W7 by P4
    t = {(r["topic"], r["year"]): r["n"] for r in topics.collect()}
    assert t == {("Distributed computing", 2020): 1, ("Distributed computing", 2021): 2}
    s = {(r["subfield"], r["year"]): r["n"] for r in subfields.collect()}
    assert s == {("Networks", 2020): 1, ("Networks", 2021): 2}


def test_keep_papers_drops_idless_works(spark):
    """Works without ``id`` whose IT author is on the keep list are not
    kept: a null work id is no group, so no arbitrary ``raw`` of theirs
    may reach the output."""
    idless = [
        json.dumps(
            {
                "publication_year": 2020,
                "concepts": [{"id": CONCEPT, "score": 0.9}],
                "authorships": [_auth("Ada Lovelace")],
                "topics": TOPIC,
                "title": title,
            }
        )
        for title in ("no id one", "no id two")
    ]
    raw = raw_from_lines(spark, [WORK_LINES[0], *idless])
    kept, _, _ = papers_pipeline(raw, _keep(spark), "IT", CONCEPT)
    assert [r["raw"] for r in kept.collect()] == [WORK_LINES[0]]


def test_confidence_boundary_is_reject_on_equal(spark):
    """P5 rejects score <= conf (not <) — boundary must drop."""
    raw = raw_from_lines(spark, [WORK_LINES[1]])
    cand = parsed_candidates(raw, "IT", CONCEPT, confidence=0.5)
    assert cand.count() == 0


def test_graph_topics_keeps_on_gte_and_id_fallback(spark):
    """P6: graph stage keeps score >= conf (default 0) and falls back
    to the prefix-stripped concept id when display_name is missing."""
    line = _work(
        "W9",
        2020,
        [
            {"id": "https://openalex.org/C1", "display_name": "Named", "score": 0.0},
            {"id": "https://openalex.org/C2", "score": 0.8},
        ],
        [_auth("X")],
        TOPIC,
    )
    works = parse_works(raw_from_lines(spark, [line]))
    got = {r["topic"]: r["score"] for r in graph_topics(works, confidence=0.0).collect()}
    assert got == {"Named": 0.0, "C2": 0.8}  # >= keeps the 0.0 one; C2 id-stripped

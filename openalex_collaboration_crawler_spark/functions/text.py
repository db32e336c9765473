"""Text-analysis column expressions for training-data pipelines.

Token counting, quality scoring, n-gram language ID, document
fingerprinting and word-shingling — all as built-in column ops
(JVM-side, codegen'd) with DuckDB-mirror SQL generators for the
differential oracle. No Python in the hot path: at 100 TB these run
inside the parquet scan stage.

Reference analogue: the reference normalizes topic labels with pandas
string ops (analysis/01_metadata_analysis.py:76-79, 259-327) and
lowercases names for keep-list matching
(generation/src/decompress.cpp:92-95); this module generalizes that
to the text-curation operators a web-scale corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII punctuation as explicit ranges — identical semantics in Java
# regex (Spark) and RE2 (DuckDB); avoids POSIX-class divergence.
_PUNCT_RX = r"[!-/:-@\[-`{-~]"
_WS_RX = r"\s+"

# Tiny embedded marker-word lists for n-gram-free language ID. Real
# deployments would broadcast a proper model table; the heuristic and
# its Spark plumbing are the deliverable here.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "it": ("il", "la", "di", "che", "e", "un", "per", "non", "con", "del"),
    "es": ("el", "la", "de", "que", "y", "los", "se", "no", "por", "con"),
}

STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"] + ("a", "an", "it", "on", "as", "are", "be")


def words(col: Column | str) -> Column:
    """Lowercased whitespace tokens; empty text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(F.lower(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, _WS_RX))


def words_sql(expr: str) -> str:
    t = f"trim(lower({expr}))"
    return f"(CASE WHEN {t} = '' THEN [] ELSE regexp_split_to_array({t}, '{_WS_RX}') END)"


def token_count(col: Column | str) -> Column:
    return F.size(words(col)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len({words_sql(expr)}) AS BIGINT)"


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, _PUNCT_RX, ""))).cast("long")


def punct_count_sql(expr: str) -> str:
    rx = _PUNCT_RX.replace("\\", "\\\\")
    return f"CAST(length({expr}) - length(regexp_replace({expr}, '{rx}', '', 'g')) AS BIGINT)"


def stopword_count_from_words(wcol: Column) -> Column:
    """Stopword count over a PRE-SPLIT word array (r6): lets callers
    that need several word-level stats split the text once instead of
    re-running trim/lower/split per stat (guide §2.3 project-early —
    the split is the expensive part of every word-level expression)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(wcol, lambda x: F.array_contains(sw, x))).cast("long")


def stopword_count(col: Column | str) -> Column:
    return stopword_count_from_words(words(col))


def stopword_count_sql(expr: str) -> str:
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return f"CAST(len(list_filter({words_sql(expr)}, x -> list_contains({sw}, x))) AS BIGINT)"


def quality_score(col: Column | str) -> Column:
    """Heuristic [0,1] quality: length band + stopword presence - punct excess.

    Same shape as C4/Gopher-style rules; all integer/boolean math until a
    single final double division so Spark and DuckDB agree bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    return quality_from_counts(
        token_count(c), F.length(c).cast("long"), punct_count(c), stopword_count(c)
    )


def quality_from_counts(
    n_tok: Column, n_chars: Column, n_punct: Column, n_stop: Column
) -> Column:
    """Quality score from pre-computed counts (r6) — same integer/bool
    math as :func:`quality_score`, shared with callers that already
    carry the counts as columns."""
    len_ok = (n_tok >= 5) & (n_tok <= 100000)
    stop_ok = (n_stop * F.lit(5)) >= n_tok  # ≥20% stopwords
    punct_ok = (n_punct * F.lit(4)) <= n_chars  # ≤25% punctuation
    avg_ok = (n_chars <= n_tok * 15) & (n_chars >= n_tok * 2)
    score = (
        len_ok.cast("int") + stop_ok.cast("int") + punct_ok.cast("int") + avg_ok.cast("int")
    )
    return (score.cast("double") / F.lit(4.0)).alias("quality")


def quality_score_sql(expr: str) -> str:
    n_tok = token_count_sql(expr)
    n_chars = f"CAST(length({expr}) AS BIGINT)"
    n_punct = punct_count_sql(expr)
    n_stop = stopword_count_sql(expr)
    len_ok = f"({n_tok} >= 5 AND {n_tok} <= 100000)"
    stop_ok = f"({n_stop} * 5 >= {n_tok})"
    punct_ok = f"({n_punct} * 4 <= {n_chars})"
    avg_ok = f"({n_chars} <= {n_tok} * 15 AND {n_chars} >= {n_tok} * 2)"
    score = (
        f"(CAST({len_ok} AS INT) + CAST({stop_ok} AS INT) + "
        f"CAST({punct_ok} AS INT) + CAST({avg_ok} AS INT))"
    )
    return f"(CAST({score} AS DOUBLE) / 4.0)"


def lang_scores_from_words(w: Column) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(w, lambda x: F.array_contains(arr, x))).cast("long")
    return out


def lang_id(col: Column | str, min_hits: int = 1) -> Column:
    """Argmax marker-word language, ties broken by language code asc;
    below ``min_hits`` → 'und'.

    Flat encoding (score*8 + rank) + one ``greatest`` — a nested
    when-chain would duplicate the score subtrees exponentially and
    blow up codegen compile time."""
    return lang_id_from_words(words(col), min_hits=min_hits)


def lang_id_from_words(wcol: Column, min_hits: int = 1) -> Column:
    """:func:`lang_id` over a pre-split word array (r6)."""
    scores = lang_scores_from_words(wcol)
    langs = sorted(scores)  # asc; earlier language wins ties
    # rank: alphabetically-first language gets the HIGHEST rank so that
    # greatest() breaks score ties toward it
    encs = [
        scores[lang] * F.lit(8) + F.lit(len(langs) - 1 - i) for i, lang in enumerate(langs)
    ]
    best = F.greatest(*encs)
    idx = (best % 8).cast("int")  # rank of the winner
    by_rank = list(reversed(langs))  # rank r → by_rank[r]
    lang = F.element_at(F.array(*[F.lit(x) for x in by_rank]), idx + 1)
    return F.when(F.floor(best / F.lit(8)) >= min_hits, lang).otherwise(F.lit("und"))


def lang_id_sql(expr: str, min_hits: int = 1) -> str:
    w = words_sql(expr)
    langs = sorted(LANG_MARKERS)
    encs = []
    for i, lang in enumerate(langs):
        markers = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
        s = f"CAST(len(list_filter({w}, x -> list_contains({markers}, x))) AS BIGINT)"
        encs.append(f"({s} * 8 + {len(langs) - 1 - i})")
    best = "greatest(" + ", ".join(encs) + ")"
    by_rank = list(reversed(langs))
    whens = " ".join(f"WHEN {r} THEN '{lang}'" for r, lang in enumerate(by_rank))
    idx = f"CAST({best} % 8 AS INT)"
    return (
        f"(CASE WHEN CAST(floor({best} / 8) AS BIGINT) >= {min_hits} "
        f"THEN (CASE {idx} {whens} END) ELSE 'und' END)"
    )


def normalized_text(col: Column | str) -> Column:
    """Dedup normal form: lowercase, strip punctuation, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), _PUNCT_RX, ""), _WS_RX, " "))


def normalized_text_sql(expr: str) -> str:
    rx = _PUNCT_RX.replace("\\", "\\\\")
    inner = f"regexp_replace(lower({expr}), '{rx}', '', 'g')"
    return f"trim(regexp_replace({inner}, '\\s+', ' ', 'g'))"


def fingerprint(col: Column | str) -> Column:
    """MD5 content fingerprint over the dedup normal form."""
    return F.md5(normalized_text(col))


def fingerprint_sql(expr: str) -> str:
    return f"md5({normalized_text_sql(expr)})"


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>); docs shorter than n words
    fall back to the whole normalized text as a single shingle."""
    w = F.split(normalized_text(col), " ")
    k = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(1), k - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.when(k >= n, grams).otherwise(F.array(F.array_join(w, " ")))


def shingles_sql(expr: str, n: int = 3) -> str:
    w = f"string_split({normalized_text_sql(expr)}, ' ')"
    grams = (
        f"list_transform(generate_series(1, len({w}) - {n - 1}), "
        f"i -> array_to_string({w}[i:i+{n - 1}], ' '))"
    )
    whole = f"[array_to_string({w}, ' ')]"
    return f"(CASE WHEN len({w}) >= {n} THEN {grams} ELSE {whole} END)"

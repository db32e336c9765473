"""Distributed URL-frontier crawl loop with checkpointed state.

This is the engine's north-star component: the reference's
single-machine atomic work-queue over .gz shards
(generation/src/authors.cpp:93-123, papers.cpp:135-166) re-designed
as a batch-iterated frontier over tables.

State layout (Iceberg-shaped, parquet-backed in this sandbox):

state_dir/
  pending/b{N}/       (url, url_hash, host, depth, priority,
                       batch_enqueued)  -- compacted log of the queue
  seen/b{N}/          (url_hash)        -- compacted log of the seen set
                       Both logs share one layout: at version v a log
                       is b{base} ∪ … ∪ b{v}, where b{base} is a full
                       copy (written every compact_every batches) and
                       each later b{N} holds only what batch N added,
                       so a batch writes O(new), not O(log). The queue
                       also drops everything fetched in (base, v]: the
                       results parquet doubles as its delete files.
  bloom/v{N}/         (part, words)     -- incremental Bloom filter per
                       hash partition as an array<bigint> of m_bits/64
                       words, sized to the seen set at bloom_fpp
                       (seen.bloom_size) and OR-merged with each delta
                       in plain Spark SQL; when the seen set outgrows
                       it, the deferred write rebuilds it BLOOM_GROWTH
                       times larger from the seen union. The commit's
                       bloom_format names its layout and (parts, m_bits,
                       k) -- any format other than the one its seen_rows
                       sizes is rebuilt from the seen union
  results/batch={k}/  (seq, url, ..., text, lang, n_links, batch_id)
  _commits/{N}.json   atomic commit marker (written last); records
                       each log's base and the STATE_FORMAT

Each micro-batch:
 1. select fetch set: politeness-capped, robots-filtered,
    deterministically ordered (streaming/politeness.py) → ``seq``.
 2. "fetch": join the batch against the page table on canonical URL
    (the sandbox's network). Duplicate snapshots of a URL resolve by
    (warc_ts, html) min — deterministic.
 3. decode+parse: one Arrow-batched ``mapInPandas`` does gzip decode
    + JSON parse + text/link extraction (reference decompress.cpp:
    39-52, openalex_json.cpp) — no per-row Python UDFs.
 4. discover: explode links → raw-string dedup → canonicalize → hash →
    dedup against the seen set (streaming/seen.py). Below
    ``bloom_min_seen`` seen rows that is one exact left join. Above it
    a Bloom prefilter kills the already-seen mass, and the survivors
    are confirmed with broadcast joins that only SCAN the seen union
    (zero shuffle of the big table), or with co-partitioned shuffle
    joins when the survivor bound exceeds the broadcast limits.
 5. commit: pending and seen deltas, bloom v+1, results; then the
    commit marker. Resume = read the highest committed version — a
    killed run replays from the last marker.

Crawl ordering is a pure function of the committed data
(depth, -priority, url_hash), so any cluster size produces the same
order — the parity contract checked against the sequential oracle in
tests/test_crawl_parity.py.

At 10^10 URLs: pending/seen are hash-partitioned Iceberg tables; the
seen union is compacted by table maintenance; bloom filters are sized
m_bits ≈ 10 × capacity/partition (bloom_fpp = 0.01); hot hosts are
capped by politeness *before* any heavy work.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.functions.hashing import portable_hash64
from openalex_collaboration_crawler_spark.functions.url import (
    canonicalize_url,
    url_hash_canonical,
    url_host,
)
from openalex_collaboration_crawler_spark.streaming.politeness import (
    SMALL_BATCH_ROWS,
    robots_filter,
    select_batch,
    with_robots_blocked,
)
from openalex_collaboration_crawler_spark.streaming.seen import (
    BLOOM_SCHEMA,
    bloom_format,
    bloom_size,
    build_bloom_table,
    mark_new_against_seen,
    ref_lit,
)

PENDING_SCHEMA = (
    "url string, url_hash bigint, host string, depth int, priority int, batch_enqueued int"
)
SEEN_SCHEMA = "url_hash bigint"
# every commit records it; run_batch refuses state of another layout
STATE_FORMAT = "compacted-log-v1"

PARSE_SCHEMA = (
    "seq long, url string, url_hash long, host string, depth int, "
    "text string, lang string, links array<string>, parse_ok boolean, "
    "text_match boolean"
)
RESULTS_SCHEMA = (
    "seq long, url string, url_hash long, host string, depth int, "
    "text string, lang string, links array<string>, n_links int, "
    "parse_ok boolean, text_match boolean, batch_id int"
)

# rows per task for the loop's batch-sized widths (see CrawlEngine._width):
# keeps per-task overhead amortized over at least this many pages
BATCH_ROWS_PER_TASK = 8192


def decode_and_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched gzip decode + JSON parse + extraction.

    Emits extracted text, outlinks, a parse_ok flag and the
    byte-identity check of extracted text vs the page table's golden
    ``text`` column (input_hint invariant, surfaced as a metric).

    The golden text itself never crosses the Arrow boundary: the
    prepared page table carries ``text_md5`` (hex md5 of the golden's
    UTF-8 bytes, computed JVM-side once at prepare time) and the
    check compares md5(extracted bytes) against it — 32 bytes of
    ingress per row instead of the full golden body. At Common-Crawl
    page sizes (~50 KB of text) shipping the golden would roughly
    double python-worker ingress for a check that only produces one
    boolean. md5 equality == byte equality up to a 2^-64 collision;
    the parity suite additionally verifies TRUE byte identity with a
    JVM-side join at fixture scale (tests/test_crawl_parity.py)."""
    import hashlib

    for pdf in batches:
        texts, links, ok, match = [], [], [], []
        for html, golden_md5 in zip(pdf["html"], pdf["text_md5"]):
            if html is None:
                texts.append(None)
                links.append([])
                ok.append(False)
                match.append(False)
                continue
            try:
                # json.loads consumes the decompressed bytes directly —
                # the explicit .decode("utf-8") this replaces allocated
                # and scanned a second ~50 KB copy per page, pure
                # memory-bandwidth waste in the path that bounds the
                # crawl's measured scaling ceiling (decode probe 0.71).
                body = json.loads(gzip.decompress(bytes(html)))
                t = body.get("text")
                lk = body.get("links")
                texts.append(t)
                links.append(lk if isinstance(lk, list) else [])
                ok.append(True)
                match.append(
                    t is not None
                    and golden_md5 is not None
                    and hashlib.md5(t.encode("utf-8")).hexdigest() == golden_md5
                )
            except Exception:  # noqa: BLE001 - malformed page == parse failure
                texts.append(None)
                links.append([])
                ok.append(False)
                match.append(False)
        out = pdf[["seq", "url", "url_hash", "host", "depth", "lang"]].copy()
        out["text"] = texts
        out["links"] = links
        out["parse_ok"] = ok
        out["text_match"] = match
        yield out[
            [
                "seq",
                "url",
                "url_hash",
                "host",
                "depth",
                "text",
                "lang",
                "links",
                "parse_ok",
                "text_match",
            ]
        ]


@dataclass
class CrawlEngine:
    spark: SparkSession
    state_dir: str
    pages_path: str  # parquet of the synthetic web (url, warc_ts, html, text, lang)
    politeness: DataFrame
    robots: DataFrame | None = None
    batch_cap: int = 1 << 30
    default_per_host: int = 8
    bloom_parts: int = 16
    # false-positive target of the Bloom prefilter; its size follows the
    # seen set (seen.bloom_size)
    bloom_fpp: float = 0.01
    # below this seen-set size the Bloom machinery costs more in job
    # launches than it saves in shuffle — use one exact join instead.
    # At 10^10 the threshold is crossed in the first batches and the
    # Bloom path (built lazily at the crossing) takes over.
    bloom_min_seen: int = 2_000_000
    # above this bound the bloom-survivor exact check switches from
    # broadcast joins to co-partitioned shuffle joins. The bound is
    # THIS batch's PRE-dedup outlink total (links_total), observed for
    # free on the results write — a provable (hence conservative) upper
    # bound on the survivor set, so a recrawl spike engages the shuffle
    # fallback in the spike batch itself. Because links_total
    # over-counts the true survivor set by the batch's link-duplication
    # factor (typically ~10-20×), the default is sized for the
    # pre-dedup metric: 16M raw links ≈ ≲2M distinct survivors ≈ a
    # ~16 MB hash-key broadcast — ordinary high-duplication batches
    # stay on the broadcast path, while tens of millions of maybe-seen
    # survivors at 10^10 scale still must never be broadcast.
    survivor_broadcast_limit: int = 16_000_000
    # secondary trigger (round-3 ADVICE): the 16M pre-dedup cap only
    # protects when the batch's link-duplication factor is ≥~8×. A
    # near-unique-outlink batch could put ~16M DISTINCT survivors on
    # the broadcast path, so the previous batch's measured duplication
    # factor (links_total/discovered, both already in the committed
    # metrics) scales links_total into an estimated distinct count,
    # and THAT is capped here. The seed commit records no links, so
    # batch 1 has no estimate and only the provable links_total cap
    # applies. Both triggers are OR-ed: the switch can only engage the
    # shuffle path MORE often than the provable bound alone, never less.
    survivor_distinct_limit: int = 2_000_000
    # Compaction of the pending and seen logs (Iceberg's
    # rewrite_data_files): a batch writes a log's full copy as its new
    # base once the chain since the base reaches compact_every batches,
    # so reads stay O(compact_every) directories. Pending also
    # compacts once the fetched urls its read must anti-join exceed
    # pending_delta_max_dels, which keeps that join a broadcast.
    # Crash-safe: the bases live in the commit marker, and an
    # uncommitted delta or copy is overwritten on replay.
    compact_every: int = 8
    pending_delta_max_dels: int = 4_000_000
    _pages_prepared: DataFrame | None = field(default=None, repr=False)
    _min_cap: int | None = field(default=None, repr=False)
    _overlap: dict | None = field(default=None, repr=False)
    _pool: object | None = field(default=None, repr=False)
    _saved_conf: dict | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        if not 0 < self.bloom_fpp < 1:
            raise ValueError(f"bloom_fpp must be in (0, 1), got {self.bloom_fpp}")

    def _bloom_format(self, seen_rows: int) -> dict:
        """Format of the Bloom table over ``seen_rows`` urls: a pure
        function of committed state, so a resumed engine chooses the same."""
        return bloom_format(
            self.bloom_parts, *bloom_size(seen_rows, self.bloom_parts, self.bloom_fpp)
        )

    _ADAPTIVE_KEY = "spark.sql.adaptive.enabled"
    _SHUFFLE_KEY = "spark.sql.shuffle.partitions"

    def _width(self, est: int, floor: int) -> int:
        """Batch-sized task count: clamp(est / BATCH_ROWS_PER_TASK,
        floor, parallelism) (guide §2: size partitions to the data, not
        the core count). A bench-scale batch runs in a handful of tasks
        (and writes that many state files) while big crawls keep full
        width. Partitioning never affects results (ranks and aggregates
        are pure functions of row values — the parity suite runs at
        several widths)."""
        par = self.spark.sparkContext.defaultParallelism
        return min(par, max(floor, est // BATCH_ROWS_PER_TASK))

    def _enter_crawl_conf(self) -> None:
        """AQE is off inside the crawl loop (restored on exit): it runs
        every exchange as its own job with a driver re-plan between
        stages, and the loop's per-batch stages are sub-second at bench
        scale, so those serial gaps dominate the per-batch floor —
        measured r5 (local[16], 6 batches): jobs 102 → 46, crawl wall
        −14 %. The loop uses nothing AQE provides: partition counts are
        pinned per batch (_width), join strategies are chosen from
        provable bounds (survivor_broadcast_limit, the batch-hash
        broadcast) and hot hosts are salted (politeness.select_batch)."""
        if self._saved_conf is not None:
            return
        self._saved_conf = {
            self._ADAPTIVE_KEY: self.spark.conf.get(self._ADAPTIVE_KEY, "true"),
            # the shuffle width is set per batch from _width
            self._SHUFFLE_KEY: self.spark.conf.get(self._SHUFFLE_KEY),
        }
        self.spark.conf.set(self._ADAPTIVE_KEY, "false")

    def _exit_crawl_conf(self) -> None:
        """Restore the session's AQE confs — called from run()'s end
        and close(); interleaving run_batch() with other queries on
        the same session leaves them off until then (documented)."""
        if self._saved_conf is not None:
            for k, v in self._saved_conf.items():
                self.spark.conf.set(k, v)
            self._saved_conf = None

    def _ensure_pool(self):
        from concurrent.futures import ThreadPoolExecutor

        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=3)
        return self._pool

    def _flush_overlap(self) -> dict | None:
        """Complete the previous batch's deferred state writes, write
        its commit marker, release its cached frames. No-op when
        nothing is deferred. Engines abandoned mid-defer without a
        flush (or ``close``) simply lack the last commit marker —
        resume replays that batch; do not run a SECOND engine on the
        same state_dir in the same process while one holds deferred
        writes."""
        ov, self._overlap = self._overlap, None
        if ov is None:
            return None
        for fut in ov["futures"]:
            fut.result()  # surface write failures before committing
        self._commit(ov["batch_id"], ov["metrics"])
        for df in ov["release"]:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 - session may be stopping
                pass
        return ov["metrics"]

    def close(self) -> None:
        """Flush deferred state, restore session conf, stop the pool."""
        self._flush_overlap()
        self._exit_crawl_conf()
        if self._pool is not None:
            self._pool.shutdown(wait=True)
            self._pool = None

    def _politeness_min_cap(self) -> int:
        """Smallest per-host budget (politeness table ∪ default),
        collected ONCE (the table is dimension-sized — the reference's
        politeness analogue is a broadcast cache). Used to prove a
        batch's budgets cannot bind: min_cap ≥ pending rows ⇒ no host
        can exceed its cap ⇒ the per-host capping window (a hot-host
        single-task sort) is provably a no-op and is skipped."""
        if self._min_cap is None:
            vals = [int(r["max_per_batch"]) for r in self.politeness.collect()]
            self._min_cap = min([self.default_per_host, *vals])
        return self._min_cap

    # ------------------------------------------------------------ state io

    def _commit_dir(self) -> str:
        return os.path.join(self.state_dir, "_commits")

    def last_version(self) -> int:
        d = self._commit_dir()
        if not os.path.isdir(d):
            return -1
        vs = [int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")]
        return max(vs, default=-1)

    def _path(self, name: str, tag: str) -> str:
        return os.path.join(self.state_dir, name, tag)

    def _read_log(
        self, name: str, schema: str, base: int, version: int, tag: str = "b"
    ) -> DataFrame:
        """Log ``name`` at ``version``: ``{tag}{base}`` ∪ … ∪
        ``{tag}{version}``. Every batch writes its entry before its
        commit marker and vacuum keeps what the last two commits read,
        so a missing entry is lost state: raise rather than read less."""
        paths = [self._path(name, f"{tag}{i}") for i in range(base, version + 1)]
        for p in paths:
            if not os.path.isdir(p):
                raise FileNotFoundError(f"crawl state lost: commit v{version} reads {p}")
        return self.spark.read.schema(schema).parquet(*paths)

    def _write_log(self, df: DataFrame, name: str, version: int) -> None:
        df.write.mode("overwrite").parquet(self._path(name, f"b{version}"))

    def _load_pending(self, version: int, commit: dict) -> DataFrame:
        """The queue at ``version``: its log minus every url fetched
        after the base (the results parquet is the delete file). The
        writer compacts before that set passes ``pending_delta_max_dels``,
        so the anti-join broadcasts it and never shuffles the queue."""
        base = commit["pending_base"]
        # the full copy and the deltas are two scans, each sizing its
        # own splits: one scan over both packs the small files into
        # fewer tasks, an executed plan the crawl's per-batch task
        # counts were not measured with (traced crawl_bulk: 45.5
        # instead of 47.5 tasks per batch)
        df = self._read_log("pending", PENDING_SCHEMA, base, base)
        if base < version:
            deltas = self._read_log("pending", PENDING_SCHEMA, base + 1, version)
            df = df.unionByName(deltas)
            fetched = self._read_log("results", RESULTS_SCHEMA, base + 1, version, "batch=")
            df = df.join(F.broadcast(fetched.select("url_hash")), "url_hash", "left_anti")
        return df

    def _load_bloom(self, version: int) -> DataFrame:
        return self.spark.read.schema(BLOOM_SCHEMA).parquet(self._path("bloom", f"v{version}"))

    def _ensure_bloom(
        self, version: int, seen_union: DataFrame, committed_format: dict | None, fmt: dict
    ) -> DataFrame:
        """Bloom table for this version — built from the full seen union
        when the engine first crosses into bloom mode (earlier batches
        ran the exact-join path and kept no table), and rebuilt when the
        commit records another format than ``fmt``, the one its seen_rows
        size: a legacy ``(part, blob)`` dir or other (parts, m_bits, k)
        would read as null or misaligned words, probing every candidate
        wrongly and dropping the old bits on the next merge."""
        path = self._path("bloom", f"v{version}")
        if committed_format != fmt or not os.path.isdir(path):
            build_bloom_table(
                seen_union, n_parts=fmt["parts"], m_bits=fmt["m_bits"], k=fmt["k"]
            ).write.mode("overwrite").parquet(path)
        return self._load_bloom(version)

    def _read_commit(self, version: int) -> dict:
        path = os.path.join(self._commit_dir(), f"{version}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except OSError:
            return {}

    def _commit(self, version: int, payload: dict) -> None:
        os.makedirs(self._commit_dir(), exist_ok=True)
        tmp = os.path.join(self._commit_dir(), f".{version}.json.tmp")
        final = os.path.join(self._commit_dir(), f"{version}.json")
        with open(tmp, "w") as f:
            json.dump({**payload, "state_format": STATE_FORMAT}, f)
        os.rename(tmp, final)  # atomic commit point
        if version > 0:  # the seed commit has nothing older to expire
            self._vacuum(version, payload)

    def _vacuum(self, version: int, commit: dict) -> None:
        """Expire-snapshots table maintenance: drop what neither commit
        v nor commit v−1 reads, so resume from either stays possible.
        One rule for both logs: keep b{k} from min(base(v), base(v−1)).
        The Bloom table keeps v−1 and v. Each sweep lists the directory,
        so a base that jumps or a vacuum that crashed leaves nothing
        behind (Iceberg's expire_snapshots)."""
        prev = self._read_commit(version - 1)
        for name in ("pending", "seen"):
            key = f"{name}_base"
            self._expire(name, "b", min(commit[key], prev[key]))
        self._expire("bloom", "v", version - 1)

    def _expire(self, name: str, tag: str, keep_from: int) -> None:
        d = os.path.join(self.state_dir, name)
        for n in os.listdir(d) if os.path.isdir(d) else []:
            if n.startswith(tag) and n[len(tag):].isdigit() and int(n[len(tag):]) < keep_from:
                shutil.rmtree(os.path.join(d, n), ignore_errors=True)

    # ------------------------------------------------------------- seeding

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """v0: pending = canonicalized seeds (priority from the seed
        list, depth 0); seen b0 = their hashes. No Bloom table: the
        first batch in bloom mode builds one from the seen union.
        Duplicate seeds collapse to max priority.

        Robots-blocked seeds enter the SEEN set but not the pending
        queue (they can never be fetched; the oracle filters them at
        select time forever — observably identical, but this way the
        tracked pending count drains to exactly 0 at crawl end)."""
        if os.path.isdir(self.state_dir):
            shutil.rmtree(self.state_dir)
        canon = seeds.select(
            canonicalize_url("url").alias("url"), F.col("priority").cast("int").alias("priority")
        )
        all_seeds = (
            canon.groupBy("url")
            .agg(F.max("priority").alias("priority"))
            .select(
                "url",
                url_hash_canonical("url").alias("url_hash"),
                url_host("url").alias("host"),
                F.lit(0).cast("int").alias("depth"),
                "priority",
                F.lit(0).cast("int").alias("batch_enqueued"),
            )
        )
        pending = all_seeds if self.robots is None else robots_filter(all_seeds, self.robots)
        self._write_log(pending, "pending", 0)
        self._write_log(all_seeds.select("url_hash"), "seen", 0)
        n_seen = self._read_log("seen", SEEN_SCHEMA, 0, 0).count()
        n_pending = self._read_log("pending", PENDING_SCHEMA, 0, 0).count()
        self._commit(
            0,
            {
                "batch": -1,
                "note": "seeded",
                "seen_rows": int(n_seen),
                "seen_base": 0,
                "pending_rows": int(n_pending),
                "pending_base": 0,
                "pending_dels": 0,
                "links_total": 0,
                "discovered": 0,
            },
        )

    # -------------------------------------------------------------- pages

    # bump when the prepared-table schema/derivation changes: a marker
    # with a different version is stale and forces a rebuild
    _PREP_VERSION = 3  # v3: ~128 MB-target file sizing on the prepared table

    def _pages_fingerprint(self) -> tuple[dict, int]:
        """Content fingerprint of the source page table: data-file
        names + sizes + count (the same identity Iceberg snapshots
        carry as manifests). Regenerating the parquet in place changes
        file names/sizes, so a stale prepared table is detected and
        rebuilt instead of silently reused. Also returns the files'
        total byte size."""
        files = []
        for root, _, names in os.walk(self.pages_path):
            for n in sorted(names):
                if n.startswith(("_", ".")):
                    continue
                p = os.path.join(root, n)
                files.append((os.path.relpath(p, self.pages_path), os.path.getsize(p)))
        files.sort()
        import hashlib

        h = hashlib.md5(json.dumps(files).encode()).hexdigest()
        fp = {"version": self._PREP_VERSION, "n_files": len(files), "files_md5": h}
        return fp, sum(size for _, size in files)

    def _pages(self) -> DataFrame:
        """The 'network': canonical_url → one deterministic snapshot.

        Canonicalization happens scan-side; duplicate snapshots (messy
        URL variants) resolve by min (warc_ts, html). Prepared ONCE to
        a scratch parquet (with the url_hash join key and the golden
        text's md5 for the byte-identity metric), NOT a heap cache —
        the corpus-sized table must never live deserialized in
        executor memory (at 100 TB it could not, and locally a 3M-row
        heap cache of html bytes measured as multi-GB GC churn).

        Staleness: the prepared table lives in a VERSIONED directory
        named by the source fingerprint (`…_prepared-<files_md5>`), so
        a source change publishes a NEW directory instead of deleting
        the one concurrent readers are mid-job on (round-3 ADVICE: the
        old rmtree-then-rename of a shared published path could fail a
        concurrent engine mid-read, and two builders racing the rmtree
        could hit FileNotFoundError). A `_prep_marker.json` inside
        still records the fingerprint as a completeness witness; the
        build goes to a unique temp dir and lands via atomic rename,
        and stale sibling versions are swept best-effort only AFTER
        the current version is published."""
        if self._pages_prepared is not None:
            return self._pages_prepared
        from pyspark.sql.window import Window

        # derived purely from the input table → lives NEXT TO it and is
        # reused across runs/engines (like a one-time table-format
        # conversion, not crawl work)
        fp, src_bytes = self._pages_fingerprint()
        base = self.pages_path.rstrip("/") + "_prepared"
        path = f"{base}-{fp['files_md5'][:16]}"
        marker = os.path.join(path, "_prep_marker.json")
        fresh = False
        if os.path.isdir(path) and os.path.isfile(marker):
            try:
                with open(marker) as f:
                    fresh = json.load(f) == fp
            except (OSError, ValueError):
                fresh = False
        if not fresh:
            # UNIQUE temp dir per builder: two engines racing on the
            # same pages_path each build privately; the loser of the
            # publish rename just discards its build (the winner's
            # content is identical — same deterministic derivation)
            import tempfile as _tempfile

            tmp = _tempfile.mkdtemp(
                prefix=os.path.basename(path) + ".build-",
                dir=os.path.dirname(path) or ".",
            )
            os.rmdir(tmp)  # Spark's writer wants to create it itself
            raw = self.spark.read.parquet(self.pages_path)
            keyed = raw.select(
                canonicalize_url("url").alias("canonical_url"),
                "warc_ts",
                "html",
                F.col("text").alias("text_golden"),
                "lang",
            )
            w = Window.partitionBy("canonical_url").orderBy("warc_ts", "html")
            prepared = (
                keyed.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn", "warc_ts")
                .withColumn("url_hash", portable_hash64(F.col("canonical_url")))
                .withColumn("text_md5", F.md5(F.col("text_golden").cast("binary")))
            )
            # Output file sizing (guide §6): the write otherwise lands at
            # the session's shuffle width (32 tiny files at bench scale —
            # AQE is off inside the loop, where the first build usually
            # happens), and EVERY batch's semi-join re-scans this table,
            # paying per-file open/listing each time. Target ~128 MB
            # files from the source's known byte size (the fingerprint
            # already carries it); parallelism of the scan at real scale
            # comes from maxPartitionBytes splits, not file count.
            n_files = min(
                self.spark.sparkContext.defaultParallelism,
                max(1, src_bytes // (128 << 20) + 1),
            )
            prepared.coalesce(int(n_files)).write.mode("overwrite").parquet(tmp)
            with open(os.path.join(tmp, "_prep_marker.json"), "w") as f:
                json.dump(fp, f)
            # a half-published dir at the versioned path can only be a
            # crashed rename's debris (rename is atomic; a COMPLETE dir
            # has the marker and would have read fresh above)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)  # atomic publish
            except OSError:
                # a concurrent builder published first; its content is
                # byte-identical (deterministic derivation) — keep it
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.isdir(path):
                    raise
            # sweep stale versions AFTER publish (best-effort: another
            # engine may be sweeping too, or still reading a stale
            # version mid-job — its files stay open on POSIX; it
            # re-resolves the current version on its next _pages())
            parent = os.path.dirname(path) or "."
            prefix = os.path.basename(base)
            for n in os.listdir(parent):
                cand = os.path.join(parent, n)
                if (
                    (n == prefix or n.startswith(prefix + "-"))
                    and ".build-" not in n  # a concurrent builder's live temp
                    and cand != path
                    and os.path.isdir(cand)
                ):
                    shutil.rmtree(cand, ignore_errors=True)
        self._pages_prepared = self.spark.read.parquet(path)
        return self._pages_prepared

    # ---------------------------------------------------------- one batch

    def run_batch(self, defer_state: bool = False) -> dict:
        """Run one micro-batch; returns its metric dict.

        The committed ``pending_rows`` counter (prev − fetched + kept)
        detects a drained frontier with ZERO Spark jobs, and every
        per-batch metric is an aggregation folded into the single
        concurrent commit wave — there is no serial driver round-trip
        left in the loop (the round-trips were the measured per-batch
        scaling floor; see BENCH/BASELINE.md §2.2).

        ``defer_state=False`` (default): durable on return — state
        writes and the commit marker land before the call returns.
        ``defer_state=True`` (what ``run()`` passes): the seen/bloom
        writes + commit are deferred into the NEXT batch's parse
        window; the caller owns flushing via another run_batch /
        run() end / accessors / close()."""
        self._enter_crawl_conf()
        if self._overlap is not None:
            # previous batch's seen/bloom writes are still in flight —
            # its metrics ARE the durable-to-be state; select+parse of
            # this batch needs none of the deferred files
            v = int(self._overlap["batch_id"])
            prev = dict(self._overlap["metrics"])
        else:
            v = self.last_version()
            prev = self._read_commit(v)
            if prev.get("state_format") != STATE_FORMAT:
                raise ValueError(
                    f"{self.state_dir} commit v{v} has state format "
                    f"{prev.get('state_format')!r}, not {STATE_FORMAT!r}: "
                    "re-seed it with init_from_seeds"
                )
        batch_id = v + 1
        est = prev["pending_rows"]
        if est == 0:
            self._flush_overlap()
            return {"batch": batch_id, "fetched": 0, "done": True}
        pending = self._load_pending(v, prev)

        # Intermediate-sharing strategy (each choice measured — see
        # BENCH/BASELINE.md):
        #  - the global rank inside select_batch uses static url_hash
        #    buckets (politeness.add_global_seq): a pure function of
        #    row values, so no boundary sampling, no checkpoint, no
        #    order-sensitivity — two jobs fewer per batch than the
        #    previous repartitionByRange design.
        #  - the decoded batch is materialized BY THE RESULTS WRITE
        #    itself (phase 1): the parquet file then backs every other
        #    consumer via a column-pruned re-read (the dedup branch
        #    reads only `links`+`depth`). Holding the decoded text in a
        #    deserialized executor cache instead measured multi-GB heap
        #    + GC churn at million-row batches. Parse metrics ride the
        #    write via ``Observation`` — exactly ONE action runs on
        #    that plan, so the observed counters are complete.
        #  - `marked` (dedup output; small columns) uses persist() +
        #    explicit unpersist, materialized by exactly one job — the
        #    pending write (phase 2), whose CollectMetrics node also
        #    supplies the dedup counters — before the remaining write
        #    fan-out (concurrent jobs racing on an unmaterialized cache
        #    re-execute the subtree below the cache point — ~3× waste).
        # the committed pending counter bounds every per-batch shuffle
        # (links explode re-aggregates to ≤ discovered ≈ O(pending));
        # AQE coalescing would size it, but AQE is off
        self.spark.conf.set(self._SHUFFLE_KEY, str(self._width(est, 4)))
        batch = select_batch(
            pending,
            self.politeness,
            self.robots,
            batch_cap=self.batch_cap,
            default_per_host=self.default_per_host,
            est_rows=est,
            skip_caps=self._politeness_min_cap() >= est,
        ).select("seq", "url", "url_hash", "host", "depth", "priority")
        if est <= SMALL_BATCH_ROWS:
            # The small-batch rank is a single-partition window; left
            # alone, EVERYTHING downstream of it stays one partition —
            # fetch join, gzip decode, parse, the results file, and the
            # next scan of that one file (link explode + map-side
            # dedup) all ran in ONE task (r6 finding: results/batch=N
            # held a single parquet file). Restore decode/parse width
            # with one deterministic hash repartition — but SIZE it to
            # the batch (guide §2: scale-adaptive partitioning, not the
            # core count): a full-width fan-out of a few-thousand-row
            # batch costs more in python-worker round-trips, tiny-file
            # commits and extra-stage scheduling than it buys
            # (interleaved A/B at bench scale: min 9.8 s serial vs
            # 13.7 s at width 32). `seq` is already a column, so
            # ordering semantics are untouched; the big-batch path
            # keeps its parallelism from add_global_seq's group
            # windows and never takes this exchange.
            width = self._width(est, 1)
            if width > 1:
                batch = batch.repartition(width, "url_hash")
        batch = batch.persist()

        # fetch + decode + parse. The batch's url-hash SET is broadcast
        # (8 bytes/URL) into a semi-join that prefilters the corpus
        # scan, so only HIT rows (≤ batch size) ever shuffle — without
        # it the full pages table (the 100-TB analogue) would shuffle
        # through the join EVERY batch. The exact left join then runs
        # on two batch-sized sides. Only (html, text_md5, lang) cross
        # into python — never the golden text body (see
        # decode_and_parse).
        hits = self._pages().join(
            F.broadcast(batch.select("url_hash")), "url_hash", "left_semi"
        ).drop("url_hash")
        fetched = batch.join(hits, batch.url == F.col("canonical_url"), "left").select(
            "seq", "url", "url_hash", "host", "depth", "html", "text_md5", "lang"
        )
        parsed = fetched.mapInPandas(decode_and_parse, schema=PARSE_SCHEMA)

        from pyspark.sql import Observation

        obs = Observation()
        results = parsed.select(
            "seq",
            "url",
            "url_hash",
            "host",
            "depth",
            "text",
            "lang",
            "links",
            F.size("links").alias("n_links"),
            "parse_ok",
            "text_match",
            ref_lit(batch_id, F.col("url_hash")).cast("int").alias("batch_id"),
        ).observe(
            obs,
            F.count(F.lit(1)).alias("fetched"),
            F.sum(F.col("parse_ok").cast("int")).alias("parsed_ok"),
            F.sum(F.col("text_match").cast("int")).alias("text_match"),
            # exact pre-dedup outlink count of THIS batch — a provable
            # upper bound on the discovered/survivor set size, used to
            # pick the survivor-join strategy for the CURRENT batch
            # (a recrawl spike switches to shuffle in the spike batch
            # itself, not one batch late)
            F.sum(F.greatest(F.col("n_links"), F.lit(0))).alias("links_total"),
        )
        results_path = self._path("results", f"batch={batch_id}")

        # ---- phase 1: decode once, straight into the results sink
        results.write.mode("overwrite").parquet(results_path)
        m_parse = obs.get
        # the previous batch's deferred seen/bloom writes ran BEHIND the
        # parse job above; the dedup phase below reads them — flush now
        # (completes the writes, lands the commit marker)
        self._flush_overlap()
        n_fetched = int(m_parse["fetched"])
        parsed_ok = int(m_parse["parsed_ok"] or 0)
        text_match = int(m_parse["text_match"] or 0)
        links_total = int(m_parse["links_total"] or 0)
        if n_fetched == 0:
            # pending rows remain but none is eligible (every host's
            # budget is 0, or the robots table blocks them at select
            # time): no state advanced, leave the last commit
            batch.unpersist()
            return {"batch": batch_id, "fetched": 0, "done": True}

        res = self.spark.read.schema(RESULTS_SCHEMA).parquet(results_path)

        # discover links → canonical → dedup (bloom prefilter + exact).
        # Robots-blocked discoveries enter SEEN (never re-considered)
        # but not PENDING (they can never be fetched) — observably
        # identical to filtering at select time, and it keeps the
        # pending_rows counter exact.
        # RAW-string dedup BEFORE canonicalization: outlinks repeat
        # heavily within a batch (popular pages are linked from many
        # fetched pages), so collapsing duplicates first (string-equality
        # hash-agg with map-side combine) cuts the regex work by the
        # batch's link-duplication factor, at the cost of a second
        # shuffle on the raw strings. min(depth) is associative, so the
        # result equals one canonical-level groupBy.
        discovered = (
            res.select(F.explode("links").alias("raw_url"), F.col("depth").alias("pdepth"))
            .groupBy("raw_url")
            .agg(F.min("pdepth").alias("pdepth"))
            .select(
                canonicalize_url("raw_url").alias("url"),
                (F.col("pdepth") + 1).cast("int").alias("depth"),
            )
            .groupBy("url")
            .agg(F.min("depth").alias("depth"))
            .select(
                "url",
                url_hash_canonical("url").alias("url_hash"),
                url_host("url").alias("host"),
                F.col("depth"),
                F.lit(0).cast("int").alias("priority"),
            )
        )
        if self.robots is not None:
            discovered = with_robots_blocked(discovered, self.robots, "__blocked")
        else:
            discovered = discovered.withColumn("__blocked", F.lit(False))

        seen_base = prev["seen_base"]
        seen_union = self._read_log("seen", SEEN_SCHEMA, seen_base, v)
        do_compact = (batch_id - seen_base) >= self.compact_every
        seen_rows = prev["seen_rows"]
        bloom_mode = seen_rows >= self.bloom_min_seen
        bloom, survivor_join = None, "broadcast"
        bloom_fmt = self._bloom_format(seen_rows)
        if bloom_mode:
            bloom = self._ensure_bloom(v, seen_union, prev.get("bloom_format"), bloom_fmt).cache()
            # survivor-set size this batch is provably ≤ links_total —
            # THIS batch's pre-dedup outlink count, observed for free
            # on the results write. Broadcast when the bound is small;
            # co-partitioned shuffle when a recrawl-heavy batch could
            # OOM the broadcast (the switch engages in the spike batch
            # itself — the bound is current, not last batch's count).
            # Secondary distinct-estimate trigger: see
            # survivor_distinct_limit.
            prev_links = prev["links_total"]
            est_distinct = links_total * prev["discovered"] / prev_links if prev_links else 0
            survivor_join = (
                "shuffle"
                if links_total > self.survivor_broadcast_limit
                or est_distinct > self.survivor_distinct_limit
                else "broadcast"
            )
        # bloom None (small seen set): one exact co-partitioned join
        marked, flagged = mark_new_against_seen(
            discovered,
            seen_union,
            bloom,
            n_parts=self.bloom_parts,
            k=bloom_fmt["k"],
            survivor_join=survivor_join,
        )
        marked = marked.persist()
        # dedup metrics ride the FIRST job that materializes `marked`
        # (the pending write) as an Observation — the collect round-trip
        # this replaces was part of the measured per-batch serial floor.
        # The CollectMetrics node sits between the cache and the filters,
        # so every marked row flows through it exactly once per job; the
        # first completed job (the pending write, which phase 2 runs
        # alone) supplies the values.
        obs_dedup = Observation()
        marked_obs = marked.observe(
            obs_dedup,
            F.count(F.lit(1)).alias("nd"),
            F.sum(F.col("is_new").cast("int")).alias("nn"),
            F.sum((F.col("is_new") & ~F.col("__blocked")).cast("int")).alias("kept"),
        )
        enqueue_cols = [
            F.col("url"),
            F.col("url_hash"),
            F.col("host"),
            F.col("depth"),
            F.col("priority"),
            ref_lit(batch_id, F.col("url_hash")).cast("int").alias("batch_enqueued"),
        ]
        # j_seen/j_bloom read plain `marked` (no CollectMetrics in their
        # plans), so the observation fires exactly once — in the
        # pending write.
        new_urls = marked.where("is_new").select(*enqueue_cols)
        new_pending = marked_obs.where(F.col("is_new") & ~F.col("__blocked")).select(
            *enqueue_cols
        )
        # pending shrinks by the batch (the results parquet is the
        # delete file) and grows by the new fetchable urls: the delta
        # is just those, the compacted copy the whole queue
        pending_base = prev["pending_base"]
        dels_after = prev["pending_dels"] + n_fetched
        compact_pending = (
            dels_after > self.pending_delta_max_dels
            or (batch_id - pending_base) >= self.compact_every
        )
        next_pending = new_pending
        if compact_pending:
            next_pending = pending.join(
                batch.select("url_hash"), "url_hash", "left_anti"
            ).unionByName(new_pending)

        def j_seen():
            delta = new_urls.select("url_hash")
            if do_compact:
                # table maintenance: fold the whole union into this
                # batch's file so future reads start here
                delta = seen_union.unionByName(delta)
            self._write_log(delta, "seen", batch_id)

        def j_bloom():
            if not bloom_mode:
                return
            fmt = metrics["bloom_format"]
            delta = new_urls.select("url_hash")
            prev_table = bloom
            if fmt != bloom_fmt:
                # the seen set outgrew the table: build the next size up
                # from the whole set, here, off the critical path
                delta, prev_table = seen_union.unionByName(delta), None
            build_bloom_table(
                delta, n_parts=fmt["parts"], m_bits=fmt["m_bits"], k=fmt["k"], prev=prev_table
            ).write.mode("overwrite").parquet(self._path("bloom", f"v{batch_id}"))

        # ---- phase 2: the pending write MATERIALIZES `marked` (and its
        # CollectMetrics node supplies the dedup counters — the serial
        # collect round-trip this replaces was part of the measured
        # per-batch floor). It runs ALONE: it is the only write the
        # next batch's select phase reads. j_seen/j_bloom wait so they
        # hit a materialized cache instead of racing to re-execute the
        # dedup subtree (~3× waste, measured). Per-partition lineage is
        # merge-on-read (metrics_table), not a per-batch write.
        self._write_log(next_pending, "pending", batch_id)
        m_dedup = obs_dedup.get
        n_discovered = int(m_dedup["nd"])
        n_new = int(m_dedup["nn"] or 0)
        n_kept = int(m_dedup["kept"] or 0)
        pending_rows = est - n_fetched + n_kept
        metrics = {
            "batch": batch_id,
            "fetched": n_fetched,
            "parsed_ok": parsed_ok,
            "text_match": text_match,
            "discovered": int(n_discovered),
            "links_total": int(links_total),
            "new_urls": int(n_new),
            "deduped": int(n_discovered - n_new),
            "seen_rows": seen_rows + int(n_new),
            "seen_base": batch_id if do_compact else seen_base,
            "pending_rows": pending_rows,
            "pending_base": batch_id if compact_pending else pending_base,
            "pending_dels": 0 if compact_pending else dels_after,
            "bloom_mode": bloom_mode,
            "bloom_format": self._bloom_format(seen_rows + n_new) if bloom_mode else None,
            "done": pending_rows == 0,
        }
        batch.unpersist()
        # ---- phase 3: seen/bloom state writes. The loop itself never
        # reads them again this batch (they feed the NEXT batch's
        # dedup phase), so with defer_state they run in the next
        # batch's select+parse window; without it (and on the final
        # batch) they complete synchronously, and every accessor
        # flushes first.
        futures = [self._ensure_pool().submit(j) for j in (j_seen, j_bloom)]
        release = [df for df in (marked, flagged, bloom) if df is not None]
        self._overlap = {
            "batch_id": batch_id,
            "metrics": metrics,
            "futures": futures,
            "release": release,
        }
        # run_batch() alone is durable-on-return (kill/resume contract);
        # only run()'s managed loop opts into cross-batch deferral
        if not defer_state or metrics["done"]:
            self._flush_overlap()
        return metrics

    def _partition_metrics(self, parsed: DataFrame) -> DataFrame:
        """Per-partition lineage: which scan partition holds how many
        fetches/parses per batch (north rule 'per-partition lineage
        and fetch/dedup/parse metrics'). Computed MERGE-ON-READ from
        the durable results parquet — the per-batch eager write this
        replaces was one extra action plus a full results re-scan in
        every batch's deferred-write window (measured part of the
        per-batch job floor), for a table nothing in the loop reads."""
        return (
            parsed.withColumn("partition_id", F.spark_partition_id())
            .groupBy("batch_id", "partition_id")
            .agg(
                F.count("*").alias("fetched"),
                F.sum(F.col("parse_ok").cast("int")).alias("parsed_ok"),
                F.sum(F.col("text_match").cast("int")).alias("text_match"),
                F.min("url_hash").alias("min_url_hash"),
                F.max("url_hash").alias("max_url_hash"),
            )
        )

    # ------------------------------------------------------------ the loop

    def run(self, max_batches: int = 1000) -> list[dict]:
        """Crawl until the frontier drains or max_batches."""
        out = []
        try:
            for _ in range(max_batches):
                m = self.run_batch(defer_state=True)
                out.append(m)
                if m.get("done") or m.get("fetched", 0) == 0:
                    break
        finally:
            # a failed batch must not leave deferred writes dangling or
            # the session's AQE conf flipped for other queries
            try:
                self._flush_overlap()  # max_batches may stop mid-overlap
            finally:
                self._exit_crawl_conf()
        return out

    # ----------------------------------------------------------- accessors
    # (each flushes deferred state first, so readers always see a
    # committed, fully-written store)

    def results(self) -> DataFrame:
        self._flush_overlap()
        return self.spark.read.parquet(os.path.join(self.state_dir, "results"))

    def metrics_table(self) -> DataFrame:
        """Per-(batch, scan-partition) lineage, computed on demand from
        the results store (see :meth:`_partition_metrics`)."""
        return self._partition_metrics(self.results())

    def crawl_order(self) -> list[tuple[int, int, str]]:
        """[(batch_id, seq, url)] — the engine's total crawl order."""
        rows = (
            self.results()
            .select("batch_id", "seq", "url")
            .orderBy("batch_id", "seq")
            .collect()
        )
        return [(r["batch_id"], r["seq"], r["url"]) for r in rows]

    def seen_hashes(self) -> set[int]:
        self._flush_overlap()
        v = self.last_version()
        base = self._read_commit(v)["seen_base"]
        return {r["url_hash"] for r in self._read_log("seen", SEEN_SCHEMA, base, v).collect()}

"""FrontierEngine — the PySpark-native crawl frontier + fetch scheduler.

The north-rule centerpiece (BASELINE.json): a from-scratch replacement for
the reference's asyncio crawler (crawl4ai_llm CrawlerConfig semantics,
config.py:35-62) built as deterministic microbatch *waves* over
snapshot-committed tables.

Per wave (``run_wave``), on one of two tiers chosen before any work from
the config, the manifests and the parquet footers (no Spark job):

  * the DRIVER tier runs the whole wave in this process — pyarrow reads,
    numpy and Python work, one pyarrow file per table committed through
    the catalog — while the rows it must decode fit DRIVER_WAVE_ROW_BUDGET
    and nothing else needs executors. Those rows are the pending
    frontier's and those of the seen, docs and band files its resident
    indexes do not cover yet: each index (``catalog.ResidentIndex``) keeps
    its table's rows sorted by key in driver memory and decodes only the
    files appended since it last looked, so a wave's lookups cost what the
    wave adds, not the crawl's history. The indexes hold at most
    RESIDENT_INDEX_BYTES together;
  * the SPARK tier runs it as Spark jobs: waves over the budget, the
    cuckoo and partitioned-Bloom seen filters, per-page fetch cost
    (parse_work, fetch_latency_ms), and waves that would trip a dedup
    gate. ``tiers`` counts both.

Both tiers share every per-batch function (fetch_batch,
dedup.text_signatures, dedup_store.match_pairs) and write the same rows;
only the relational glue below exists twice, and the Spark tier is its
reference.

  1. POLITENESS + PRIORITY DRAIN — per-host budget
     B = max(1, ⌊wave_seconds / crawl_delay⌋) (robots override, else the
     CrawlerConfig.delay default, ref config.py:56), priority
     (depth asc, score desc, url_hash asc). The driver tier takes one
     sorted per-host row number. The Spark tier realizes it as an EXACT
     two-phase top-B: rank within (host, salt) first — pmod(url_hash,
     n_salts) salts split the hot host across partitions — then rank the
     ≤ salts·B survivors per host. Same result as a single per-host
     window, without a skewed shuffle (host 0 holds ~30% of the frontier
     by construction).
  2. FETCH — ``fetch_batch`` returns (ok, canonical out-links,
     interleaved spans) per URL: the Spark tier calls it per Arrow batch
     (mapInPandas, no per-row UDFs — driver input_hint mandate), the
     driver tier once.
  3. RETRY — failures requeue with attempt+1 while attempt ≤ max_retries
     (ref config.py:54-55 semantics).
  4. DISCOVER — out-links arrive canonical (the fetch batch canonicalizes
     each page's links while it visits the page; no Python stage here),
     are murmur3-hashed, robots-filtered (broadcast join against the tiny
     rules table; ``wg.robots_allows`` on the driver), deduplicated:
     min(depth) per url within the wave, then checked against the seen
     set. The Spark tier Bloom-prefilters (bloom.py — no false
     negatives) and verifies the positives EXACTLY with an anti-join;
     the driver tier probes the resident seen index by url_hash for
     every discovery, url compared (an exact in-memory index leaves a
     Bloom nothing to decide).
  5. COMMIT — docs/seen/schedule/frontier/checkpoint snapshots, checkpoint
     LAST; every snapshot is tagged with the wave, so a killed job resumes
     from the last fully-committed wave (``resume()`` rolls each table back
     to the checkpointed wave).

Crawl-order parity with the reference semantics is defined and tested at
wave granularity (SURVEY.md §8.2): same URL→wave assignment, same per-host
in-wave order, same final seen set as the pure-Python oracle simulator
(tests/oracle_crawler.py) on the same seeded web graph.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from crawl4ai_llm_spark.catalog import Catalog, ResidentIndex, has_files
from crawl4ai_llm_spark.frontier import bloom as bloom_mod
from crawl4ai_llm_spark.frontier import cuckoo as cuckoo_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.hashing import spark_hash_strs
from crawl4ai_llm_spark.functions.urls import (
    _canonical_links,
    canonicalize_url,
    host_of,
    url_hash,
)
from crawl4ai_llm_spark.schemas import SPAN_TYPE

# Corpus-footprint gate for the driver-tier orig-text pyarrow read
# (VERDICT r07 #2): the doc-id predicate does not prune row groups (ids are
# URLs in wave order), so the driver scan reads every live byte of the docs
# table — bounded OUTPUT (DRIVER_MATCH_DOC_BUDGET) never bounded the SCAN.
# Above this many live bytes the engine hands the orig-text lookup back to
# the distributed pushdown-pruned scan. Default sized from the measured
# crossover (tools/bench_doc_text_read.py, BENCH.md r08): the driver read
# grows ~4.8 ms/MB of live parquet (it reads every byte), while the Spark
# filter+collect wall is flat — 0.17-0.23 s on a quiet micro-table, ~1.1 s
# in a live crawl session (engine measurement, r07). 256 MB ≈ the point
# where the driver read exceeds even the live-session Spark wall; beyond
# it the driver scan also starts to own wave latency and driver memory.
# Env-overridable for bigger/smaller driver hosts.
import os  # noqa: E402

_TEXT_READ_BYTES = os.environ.get("SPARK_GRAFT_DRIVER_TEXT_READ_BYTES", str(256 * 1024 * 1024))
if not _TEXT_READ_BYTES.strip().isdecimal():
    # int() would raise without naming the variable, and a negative
    # budget would silently send every wave's text read to Spark
    raise ValueError(
        "SPARK_GRAFT_DRIVER_TEXT_READ_BYTES must be a non-negative integer, "
        f"got {_TEXT_READ_BYTES!r}"
    )
DRIVER_TEXT_READ_BYTE_BUDGET = int(_TEXT_READ_BYTES)

# Rows the driver tier of run_wave may decode in one wave: the pending
# frontier's, plus those of every live seen, docs and (with content dedup)
# band file the resident indexes do not cover yet, summed from parquet
# footers before the wave starts. Above it the wave runs on the Spark
# tier. A warm index has decoded its history already, so a thin wave
# over a long crawl counts only its frontier and the files the last wave
# appended. Pinned from the measured crossover (tools/bench_crawl_fatwave.py
# --tiers, local[4], content dedup on, BENCH.md "Crawl waves whose cost
# does not grow with history"): on the fat waves the driver won at 223k
# rows (8.7 s vs 14.7 s) and lost at 435k (18.1 s vs 15.9 s) and 1.0M
# (30.1 s vs 24.6 s); the log-linear crossing is ~380k.
DRIVER_WAVE_ROW_BUDGET = 400_000

# Bytes the resident seen, docs and band indexes may hold together
# (ResidentIndex.nbytes). A sync that takes them past it drops all three
# and sends the wave to the Spark tier (``spark:index``). Measured at
# ~23 bytes an indexed row (the same tool: fatwave scale 1's whole
# 6.7M-row history holds 158 MB, so this holds ~11M rows); a cold
# rebuild from DRIVER_WAVE_ROW_BUDGET rows stays far below it, so only a
# long crawl's growth reaches it.
RESIDENT_INDEX_BYTES = 256 << 20

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    ]
)



def _struct(*fields) -> T.StructType:
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


_STR, _INT, _LONG = T.StringType(), T.IntegerType(), T.LongType()
# The row schemas the Spark tier's wave commits write (column order and
# nullability as Spark derives them): the driver tier writes the same
# physical types and stamps these into its files' footers.
FRONTIER_ROW_SCHEMA = _struct(
    ("url", _STR, True), ("url_hash", _LONG, True), ("host", _STR, True),
    ("depth", _INT, True), ("attempt", _INT, True), ("score", T.DoubleType(), True),
)
SEEN_ROW_SCHEMA = _struct(("url_hash", _LONG, False), ("url", _STR, True), ("wave", _INT, False))
SCHEDULE_ROW_SCHEMA = _struct(
    ("url", _STR, True), ("host", _STR, True), ("depth", _INT, True),
    ("attempt", _INT, True), ("host_rank", _INT, False), ("wave", _INT, False),
)
DOCS_ROW_SCHEMA = _struct(
    ("doc_id", _STR, True), ("spans", T.ArrayType(SPAN_TYPE), True), ("wave", _INT, False)
)
BAND_ROW_SCHEMA = _struct(("doc_id", _STR, True), ("band", _INT, False), ("key", _INT, False))
DUP_ROW_SCHEMA = _struct(
    ("wave", _INT, True), ("new_id", _STR, True), ("orig_id", _STR, True),
    ("jaccard", T.DoubleType(), True),
)
FRONTIER_COLS = FRONTIER_ROW_SCHEMA.names

# host_of's pattern: the authority up to a port or path
_HOST_RE = re.compile(r"^[a-z]+://([^/:]+)")


def fetch_batch(spec, urls, attempts, parse_work: int = 0, latency_s: float = 0.0,
                concurrency: int = 64):
    """Synthetic fetch of one batch of scheduled URLs (C9) — the body of
    both tiers' fetch: the Spark tier's ``mapInPandas`` calls it per Arrow
    batch, the driver tier once for the whole wave. Returns per URL
    ``ok``, the page's out-links already in canonical form
    (``_canonical_links``: the batch visits every page in Python anyway,
    so discovery needs no canonicalization stage) and its spans. A real
    deployment swaps the body for async HTTP with the same interface."""
    import hashlib
    import time

    if latency_s:
        # async-fetcher wall time for this batch: requests pipeline
        # `concurrency`-deep per task
        time.sleep(len(urls) * latency_s / concurrency)
    oks, links, spans = [], [], []
    for url, attempt in zip(urls, attempts):
        ok = wg.fetch_ok(spec, url, int(attempt))
        oks.append(ok)
        links.append(_canonical_links(wg.out_links(spec, url)) if ok else [])
        spans.append(wg.page_spans(spec, url) if ok else [])
        if ok and parse_work:
            d = url.encode()
            for _ in range(parse_work):
                d = hashlib.md5(d).digest()
    return oks, links, spans


def _files(snap) -> list[str]:
    """A snapshot's live files (none for a table without one)."""
    return snap.files if snap else []


def _doc_text(spans) -> str:
    """Document text = the text spans' texts joined with ' ' in span
    order, null texts skipped — ``FrontierEngine._spans_text`` (the
    column the content-dedup index shingles) for one row."""
    return " ".join(
        s["text"] for s in (spans or []) if s["kind"] == "text" and s["text"] is not None
    )


@dataclass
class CrawlConfig:
    # reference CrawlerConfig semantics (config.py:54-56)
    delay: float = 1.0
    max_retries: int = 3
    # engine wave parameters
    wave_seconds: float = 8.0
    max_depth: int = 5
    max_waves: int = 1000
    n_salts: int = 8
    # probabilistic seen-set tier ahead of the exact anti-join:
    # "bloom" (C3, incremental bitmap OR), "cuckoo" (C4's deletable
    # variant — supports evict-for-recrawl), or "exact" (anti-join only)
    seen_filter: str = "bloom"
    bloom_buckets: int = 64
    # Transport is a SIZE-DEPENDENT tradeoff (both measured, BENCH.md):
    # - "broadcast" (default): bitmaps collect to the driver and broadcast.
    #   Probe is map-only; best when per-wave fixed cost matters (sandbox
    #   wave sizes, latency-bound crawls: 0.84 scaling efficiency vs 0.66
    #   for partitioned at the 616k-URL scaling run's wave sizes).
    # - "partitioned": bitmaps live in a snapshot table; probe/update are
    #   cogrouped Arrow jobs — one extra shuffle per wave, but NOTHING
    #   transits the driver. Mandatory at 10^10 URLs (~12 GB of filters at
    #   10 bits/key can't broadcast), and already faster when waves are
    #   CPU-bound (3,357 vs 3,021 urls/s at local[32], no latency model).
    # - "auto": encodes that measured tradeoff — per wave, broadcast while
    #   the filter footprint (non-empty buckets × bitmap bytes) fits
    #   broadcast_budget_bytes, switching one-way to partitioned once it
    #   outgrows the budget (filters only grow; the partitioned table's
    #   existence IS the switched state, surviving kill/resume).
    # Identical maybe_seen semantics across all three (equality-tested at
    # the probe level, via full-crawl oracle parity incl. kill/resume, and
    # via a mid-run auto switch parity test).
    bloom_transport: str = "broadcast"
    # "auto" broadcast budget: above this filter footprint the per-wave
    # driver collect + broadcast costs more than the cogroup shuffle — and
    # far above it (GBs) the driver/broadcast path is simply not viable
    broadcast_budget_bytes: int = 64 << 20
    # synthetic per-page parse cost (hash rounds) standing in for the CPU
    # work of real fetch+parse — 0 in parity tests; the scaling benchmark
    # sets it so per-URL compute dominates, as it does in production
    parse_work: int = 0
    # emulated network RTT per fetch and the async in-flight depth per
    # task — a real crawler is latency-bound (an asyncio fetcher holds
    # `async_concurrency` requests open); each Arrow batch sleeps
    # len(batch)·latency/concurrency, exactly the wall-time an async pool
    # would take. 0 disables (parity tests).
    fetch_latency_ms: float = 0.0
    async_concurrency: int = 64
    # parquet files per wave commit. Uncompacted commits write one file per
    # task (cores × waves files, footer-scan bloat); over-compacted commits
    # serialize the write I/O of fat waves. None ⇒ match core count.
    # Production sizes this by bytes.
    commit_partitions: int | None = None
    # rewrite the append-only tables every K waves (0 = never) — bounds
    # reader footer-scan cost on long crawls
    compact_every: int = 0
    # AUTO-compaction trigger (VERDICT r07 #6): compact when the docs
    # table's live file count exceeds this (0 = off). Unlike the fixed
    # wave cadence, this bounds what actually degrades readers — the file
    # count — regardless of wave width: every snap.files consumer
    # (planning, the driver-tier orig-text read, footer scans) walks the
    # live file list, which otherwise grows cores×waves on a 10⁴-wave
    # crawl. Measured cost shape in BENCH.md r08 (file count and
    # orig-text read wall, before vs after compaction).
    compact_file_threshold: int = 0
    # content near-dup detection wired INTO the crawl loop (VERDICT r04
    # #3): each wave's fetched documents are matched against a crawl-owned
    # persisted DedupIndex (MinHash band keys over the concatenated text
    # spans) BEFORE being ingested into it — the same backward-only
    # semantics as streaming/dedup_stream.py. Matched pairs land in the
    # ``content_dups`` table tagged with the wave; policy "flag" commits
    # duplicate docs anyway (audit trail), "skip" drops them from the docs
    # table AND the index (the store's reject_near_dups skip mode, ref D1
    # json_storage.py:195-197 generalized to content). The index commits
    # inside the wave's checkpointed cycle, so kill/resume rewinds it with
    # every other table and a re-run wave re-ingests exactly once.
    # Known corner: evict_from_seen + organic re-crawl re-ingests that
    # URL's band keys (the docs table gains a second row too — the
    # pre-existing recrawl semantics); candidates stay correct (the match
    # deduplicates) but the index grows one stale copy per recrawl — a
    # recrawl-heavy deployment should mark_stale + rebuild, as the
    # store's divergence path does.
    content_dedup: bool = False
    content_dedup_tau: float = 0.5
    content_dedup_policy: str = "flag"  # "flag" | "skip"
    graph: wg.GraphSpec = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.graph is None:
            self.graph = wg.GraphSpec()
        # A typo like "drop"/"reject" would otherwise silently behave as
        # "flag" (the skip branch tests == "skip"), committing
        # near-duplicates the caller meant to suppress (ADVICE r05).
        if self.content_dedup_policy not in ("flag", "skip"):
            raise ValueError(
                "content_dedup_policy must be 'flag' or 'skip', got "
                f"{self.content_dedup_policy!r}"
            )
        # a misspelled seen_filter would silently run the exact-only
        # anti-join, a misspelled bloom_transport the broadcast tier
        if self.seen_filter not in ("bloom", "cuckoo", "exact"):
            raise ValueError(
                "seen_filter must be 'bloom', 'cuckoo' or 'exact', got "
                f"{self.seen_filter!r}"
            )
        if self.bloom_transport not in ("broadcast", "partitioned", "auto"):
            raise ValueError(
                "bloom_transport must be 'broadcast', 'partitioned' or 'auto', got "
                f"{self.bloom_transport!r}"
            )


def score_expr(hash_col) -> F.Column:
    """Deterministic priority score from the URL hash (shared with the
    oracle): ((hash & 0x7fffffff) % 1000) / 1000."""
    return ((hash_col.bitwiseAND(F.lit(0x7FFFFFFF))) % 1000).cast("double") / 1000.0


class FrontierEngine:
    def __init__(self, spark: SparkSession, warehouse: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.catalog = Catalog(spark, warehouse)
        self.frontier = self.catalog.table("frontier_pending")
        self.seen = self.catalog.table("seen")
        self.docs = self.catalog.table("docs_spans")
        self.schedule = self.catalog.table("schedule")
        self.checkpoints = self.catalog.table("checkpoints")
        # partitioned-transport Bloom state (bucket, bloom) — snapshot-
        # committed per wave, so resume() rewinds it with the other tables
        self.blooms_table = self.catalog.table("seen_blooms")
        # content-dedup audit table: (wave, new_id, orig_id, jaccard) per
        # detected near-duplicate — the per-wave counters the config's
        # content_dedup mode surfaces
        self.dup_pairs = self.catalog.table("content_dups")
        self._dedup_index = None  # lazy — only built when content_dedup is on
        self._robots_df: DataFrame | None = None
        # incremental per-bucket Bloom bitmaps (C3): OR-ing per-wave deltas
        # is equivalent to rebuilding from the seen table (bitmap union is
        # distributive) and keeps the per-wave cost ∝ new URLs, not |seen|
        self._blooms: dict[int, bytes] | None = None
        # cuckoo tier (deletable) — bucket→packed table
        self._cuckoo: dict[int, bytes] | None = None
        # per-wave resolved bloom transport (observability for the "auto"
        # mode's switch point; tiny)
        self.transport_log: list[str] = []
        # per-wave phase walls (run_wave's mark() points) — benches read
        # this to attribute e.g. the content-dedup phase directly
        self.wave_marks: dict[int, dict[str, float]] = {}
        # run_wave's tier per wave: "driver" or "spark:<reason>" (the same
        # shape as ProductStore.tiers)
        self.tiers: Counter = Counter()
        self._rules_by_host: dict[str, dict] | None = None
        self._file_rows: dict[str, int] = {}  # parquet footer row counts
        self._file_bytes: dict[str, int] = {}  # data file sizes
        # driver-resident indexes (the driver tier's lookups; the band
        # index is the dedup index's): seen rows by url_hash, docs rows by
        # the murmur3 of their doc_id
        self._seen_index = ResidentIndex(
            ["url_hash", "url"], ["url"], lambda t: t.column("url_hash").to_numpy()
        )
        self._docs_index = ResidentIndex(
            ["doc_id", "wave"], ["doc_id", "wave"], lambda t: spark_hash_strs(t.column("doc_id"))
        )

    # ------------------------------------------------------------------ setup

    def dedup_index(self):
        """The crawl-owned persisted content-dedup index — band-key tables
        under the same warehouse, snapshot-committed per wave."""
        if self._dedup_index is None:
            import os

            from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

            self._dedup_index = DedupIndex(
                self.spark, os.path.join(self.catalog.warehouse, "content_index")
            )
        return self._dedup_index

    @staticmethod
    def _spans_text(spans_col) -> F.Column:
        """Document text = the text spans concatenated in span order — the
        column the content-dedup index shingles. JVM-side (interpreted HOF,
        but ≤ ~12 spans/page; the Arrow shingle pass downstream dominates)."""
        return F.array_join(
            F.transform(
                F.filter(spans_col, lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        )

    def _read_doc_texts(self, doc_ids: list, snap=None) -> dict | None:
        """Driver-side read of a FEW docs' texts by id — the match driver
        tier's orig-side lookup, with no Spark job (the equivalent Spark
        filter-collect job measured 1.1 s, per-action scheduling, not
        bytes). ``snap``: the docs table's snapshot when the caller has
        read it. The resident docs index (doc_id and wave of every docs
        row, keyed by the doc_id's murmur3) gives each id's rows; only the
        files holding a chosen row are decoded, through the docs table's
        ``read_file`` memo. Text rule: ``_doc_text``, which equals
        _spans_text. Multiple rows per doc_id (recrawl before
        rebuild_content_index): the MAX-WAVE row wins — the repo's
        "latest fetch" rule (compaction rewrites files and mixes waves, so
        append order is not a reliable proxy; ADVICE r07). Ties inside one
        wave fall back to append order.

        Returns None, and the caller (match_documents_driver) falls back
        to the distributed pushdown-pruned scan of the stored docs — the
        same rows, executor-side — when the docs table's live bytes
        exceed ``DRIVER_TEXT_READ_BYTE_BUDGET`` (a hit file is decoded
        whole, and a fat wave writes its docs as one file; crossover of
        the earlier full-scan read in tools/bench_doc_text_read.py,
        BENCH.md r08), or when syncing the index would take the resident
        indexes past RESIDENT_INDEX_BYTES."""
        import numpy as np

        snap = self.docs.current_snapshot() if snap is None else snap
        if not has_files(snap):
            return {}
        size = self._live_bytes(snap.files)
        if size is None or size > DRIVER_TEXT_READ_BYTE_BUDGET:
            return None  # non-local/unsizable file, or too big a corpus
        index = self._docs_index
        if not self._sync_index(index, snap):
            return None
        wanted = set(doc_ids)
        rows, _ = index.find(spark_hash_strs(list(wanted)))
        best: dict = {}
        for row, did, wv in zip(
            rows.tolist(), index.take(rows, "doc_id"), index.take(rows, "wave")
        ):
            if did not in wanted:
                continue  # another id with the same hash
            wv = -1 if wv is None else wv
            if did not in best or wv >= best[did][0]:
                best[did] = (wv, row)
        ids = list(best)
        files, at = index.locate(np.array([best[did][1] for did in ids], dtype=np.int64))
        return {
            did: _doc_text(self.docs.read_file(index.files[f]).column("spans")[r].as_py())
            for did, f, r in zip(ids, files.tolist(), at.tolist())
        }

    def robots_df(self) -> DataFrame:
        """Tiny host→rules dimension — always broadcast (C7). Built from a
        pyarrow table, so the plan holds a LocalRelation rather than a
        pickled-RDD scan, which every broadcast join against it would
        otherwise re-run as a Python task."""
        if self._robots_df is None:
            import pyarrow as pa

            strings = pa.list_(pa.string())
            rows = pa.Table.from_pylist(
                wg.robots_rules(self.config.graph),
                schema=pa.schema(
                    [
                        ("host", pa.string()),
                        ("deny_prefixes", strings),
                        ("allow_prefixes", strings),
                        ("crawl_delay", pa.float64()),
                    ]
                ),
            )
            self._robots_df = self.spark.createDataFrame(rows)
        return self._robots_df

    def _with_frontier_cols(self, urls: DataFrame, depth_col: str = "depth") -> DataFrame:
        """url (canonical) → full frontier row (hash, host, score)."""
        return urls.select(
            "url",
            url_hash(F.col("url")).alias("url_hash"),
            host_of(F.col("url")).alias("host"),
            F.col(depth_col).cast("int").alias("depth"),
            F.lit(0).alias("attempt"),
        ).withColumn("score", score_expr(F.col("url_hash")))

    def _robots_allowed(self, df: DataFrame) -> DataFrame:
        """Drop robots-denied URLs: broadcast join + vectorized
        longest-match-wins prefix test (RFC 9309 §2.2.2 — the longest
        matching prefix among Allow+Disallow decides; ties go to Allow, so
        an Allow carve-out inside a broader Disallow is honored)."""
        path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")

        def longest_match(arr):  # max matching-prefix length, -1 if none
            # ONE aggregate pass per array (higher-order functions evaluate
            # interpreted, so filter+transform+array_max costs 3 traversals
            # — measured 16% of crawl wall time on the discovered-links
            # filter); a null array short-circuits to -1 via coalesce
            return F.coalesce(
                F.aggregate(
                    arr,
                    F.lit(-1),
                    lambda acc, p: F.when(
                        path.startswith(p) & (F.length(p) > acc), F.length(p)
                    ).otherwise(acc),
                ),
                F.lit(-1),
            )

        return (
            df.join(
                F.broadcast(
                    self.robots_df().select("host", "deny_prefixes", "allow_prefixes")
                ),
                "host",
                "left",
            )
            .where(
                longest_match(F.col("allow_prefixes"))
                >= longest_match(F.col("deny_prefixes"))
            )
            .drop("deny_prefixes", "allow_prefixes")
        )

    def init_seeds(self, seeds: list[str]) -> None:
        """Canonicalize + dedup the seed list, commit frontier/seen at wave 0."""
        raw = self.spark.createDataFrame([(s,) for s in seeds], ["raw_url"])
        canon = raw.select(canonicalize_url(F.col("raw_url")).alias("url")).where(
            F.col("url").isNotNull()
        )
        rows = self._with_frontier_cols(
            canon.distinct().withColumn("depth", F.lit(0))
        )
        rows = self._robots_allowed(rows)
        self.frontier.overwrite(rows, counters={"wave": 0})
        self.seen.overwrite(
            rows.select("url_hash", "url", F.lit(0).alias("wave")), counters={"wave": 0}
        )
        self.checkpoints.overwrite_pylist(
            [self._cp_row(0, {"partition_id": -1, "urls_scheduled": 0, "urls_fetched": 0, "urls_failed": 0})],
            counters={"wave": 0},
        )

    # ------------------------------------------------------------------ wave

    def _fetch(self, scheduled: DataFrame) -> DataFrame:
        """The Spark tier's fetch: scheduled URLs cross to Python once, in
        Arrow batches (``mapInPandas``), and each batch runs
        ``fetch_batch`` — the function the driver tier calls in-process."""
        spec = self.config.graph
        parse_work = self.config.parse_work
        latency_s = self.config.fetch_latency_ms / 1000.0
        conc = self.config.async_concurrency

        def run(batches):
            for pdf in batches:
                oks, links, spans = fetch_batch(
                    spec, pdf["url"], pdf["attempt"], parse_work, latency_s, conc
                )
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "url_hash": pdf["url_hash"],
                        "host": pdf["host"],
                        "score": pdf["score"],
                        "attempt": pdf["attempt"],
                        "depth": pdf["depth"],
                        "ok": oks,
                        "links": links,
                        "spans": spans,
                    }
                )

        # explicit width for the Python-heavy stage: AQE coalesces small
        # shuffles by size (session config), which is right for relational
        # stages but would strangle the per-page fetch/parse work. Frontier
        # columns ride through the fetch so retries need no join-back.
        width = self.spark.sparkContext.defaultParallelism
        return (
            scheduled.select("url", "url_hash", "host", "score", "attempt", "depth")
            .repartition(width)
            .mapInPandas(run, FETCH_RESULT_SCHEMA)
        )

    @staticmethod
    def _cp_row(wave: int, r) -> dict:
        from datetime import datetime, timezone

        return {
            "wave": wave,
            "partition_id": int(r["partition_id"]),
            "urls_scheduled": int(r["urls_scheduled"]),
            "urls_fetched": int(r["urls_fetched"]),
            "urls_failed": int(r["urls_failed"]),
            "committed_at": datetime.now(timezone.utc),
        }

    def _resolve_transport(self) -> str:
        """C3 transport decision. "auto" picks from the CURRENT filter
        footprint: broadcast below ``broadcast_budget_bytes`` (map-only
        probe — wins short, latency-bound waves), partitioned above it
        (cogrouped Arrow, nothing transits the driver). One-way in practice:
        filters only grow, and once the partitioned filter table exists the
        engine stays on it (its presence IS the switched state, so the
        decision survives kill/resume without re-measuring)."""
        cfg = self.config
        if cfg.bloom_transport != "auto":
            return cfg.bloom_transport
        if self._blooms is None:
            if not self.blooms_table.is_empty():
                return "partitioned"
            # no driver copy (fresh engine, post-resume, or driver-tier
            # waves, which keep none): the footprint decides, so build it
            self._build_seen_blooms()
        size = sum(len(b) for b in self._blooms.values())
        return "partitioned" if size > cfg.broadcast_budget_bytes else "broadcast"

    def _build_seen_blooms(self) -> None:
        """Full broadcast-tier build from the current seen snapshot: its
        files' ``url_hash`` column streams through pyarrow one record
        batch at a time, OR-ed into the bitmaps — no Spark job, and the
        driver never holds more than one batch plus the bitmaps."""
        import pyarrow.parquet as pq

        self._blooms = {}
        snap = self.seen.current_snapshot()
        for path in snap.files if snap else []:
            for batch in pq.ParquetFile(path).iter_batches(columns=["url_hash"]):
                self._bloom_or(
                    bloom_mod.blooms_from_hashes(
                        batch.column(0).to_numpy(), self.config.bloom_buckets
                    )
                )

    def _bloom_or(self, delta: dict[int, bytes]) -> None:
        import numpy as np

        if self._blooms is None:
            self._blooms = {}
        for b, bm in delta.items():
            cur = self._blooms.get(b)
            if cur is None:
                self._blooms[b] = bm
            else:  # vectorized bitmap union — this runs on the driver
                self._blooms[b] = np.bitwise_or(
                    np.frombuffer(cur, dtype=np.uint8), np.frombuffer(bm, dtype=np.uint8)
                ).tobytes()

    # ------------------------------------------------------------------ tiers

    def run_wave(self, wave: int) -> dict[str, int]:
        """Run one crawl wave on the tier chosen for it, before any work,
        from config, manifests and parquet footers (``_wave_tier``): the
        driver tier when the rows the wave must decode — the pending
        frontier and the files the resident indexes do not cover yet —
        fit DRIVER_WAVE_ROW_BUDGET, else the Spark tier. A driver wave
        that trips a mid-wave gate (a dedup gate, or the resident indexes
        outgrowing RESIDENT_INDEX_BYTES) is dropped before any commit and
        reruns on the Spark tier. ``tiers`` counts each wave's tier. The
        wave's tables' snapshots are read once, here; commits read their
        own parents."""
        cfg = self.config
        transport = self._resolve_transport() if cfg.seen_filter == "bloom" else None
        if transport is not None:
            self.transport_log.append(transport)
        tables = [self.frontier, self.seen]
        if cfg.content_dedup:
            tables += [self.docs, self.dedup_index().minhash_bands]
        snaps = {t: t.current_snapshot() for t in tables}
        tier = self._wave_tier(transport, snaps)
        stats = self._run_wave_driver(wave, snaps) if tier == "driver" else None
        if isinstance(stats, str):  # declined mid-wave, nothing committed
            tier, stats = f"spark:{stats}", None
        if stats is None:
            stats = self._run_wave_spark(wave, transport)
        self.tiers[tier] += 1
        if "fetched" in stats and os.environ.get("CRAWL_WAVE_TIMING"):
            import json

            print(
                json.dumps(
                    {
                        "wave": wave,
                        "marks": self.wave_marks[wave],
                        "scheduled": stats["scheduled"],
                        "fetched": stats["fetched"],
                        "transport": transport,
                        "tier": tier,
                    }
                ),
                flush=True,
            )
        return stats

    def _rows_of(self, files: list[str]) -> int:
        """Rows of data files, from their parquet footers (files never
        change once written, so each is read once)."""
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if f not in self._file_rows:
                self._file_rows[f] = pq.read_metadata(f).num_rows
            total += self._file_rows[f]
        return total

    def _live_rows(self, table) -> int:
        """Rows of a table's live files."""
        return self._rows_of(_files(table.current_snapshot()))

    def _live_bytes(self, files: list[str]) -> int | None:
        """Bytes of data files (each stat-ed once), None when one cannot
        be sized (a non-local file: never risk the driver on it)."""
        total = 0
        for f in files:
            if f not in self._file_bytes:
                try:
                    self._file_bytes[f] = os.path.getsize(f)
                except OSError:
                    return None
            total += self._file_bytes[f]
        return total

    def _indexes(self) -> list[tuple]:
        """(table, its resident index) for each table a driver wave looks
        rows up in."""
        out = [(self.seen, self._seen_index)]
        if self.config.content_dedup:
            idx = self.dedup_index()
            out += [(self.docs, self._docs_index), (idx.minhash_bands, idx.band_index)]
        return out

    def resident_index_bytes(self) -> int:
        """Bytes the resident indexes hold now."""
        return sum(index.nbytes for _, index in self._indexes())

    def _sync_index(self, index, snap) -> bool:
        """Bring ``index`` to ``snap``'s file list. If the resident
        indexes then hold more than RESIDENT_INDEX_BYTES, drop them all
        and return False: the wave goes to the Spark tier."""
        index.sync(_files(snap))
        if self.resident_index_bytes() <= RESIDENT_INDEX_BYTES:
            return True
        for _, other in self._indexes():
            other.reset()
        return False

    def _rows_to_decode(self, snaps: dict) -> tuple[int, int]:
        """(pending frontier rows, rows a driver wave on ``snaps`` must
        decode): the pending rows plus those of the live files of each
        indexed table (``_indexes``) that its resident index does not
        cover yet — what an index covers is decoded already. From
        parquet footers."""
        pending = self._rows_of(_files(snaps[self.frontier]))
        cold = sum(self._rows_of(index.cold(_files(snaps[t]))) for t, index in self._indexes())
        return pending, pending + cold

    def _wave_tier(self, transport: str | None, snaps: dict) -> str:
        """"driver", or "spark:<reason>" for a wave the driver tier
        declines: the filter only the Spark tier runs (cuckoo,
        partitioned Bloom), per-page fetch cost that executor parallelism
        exists for, more rows to decode (``_rows_to_decode``) than
        DRIVER_WAVE_ROW_BUDGET, or a dedup gate the wave's match would
        trip on the Spark tier's driver path. ``snaps``: the wave's
        snapshots (``run_wave``). From manifests and parquet footers; no
        Spark job."""
        from crawl4ai_llm_spark.operators import dedup
        from crawl4ai_llm_spark.operators import dedup_store as ds

        cfg = self.config
        if cfg.seen_filter == "cuckoo" or transport == "partitioned":
            return "spark:filter"
        if cfg.parse_work or cfg.fetch_latency_ms:
            return "spark:fetch"
        pending, rows = self._rows_to_decode(snaps)
        if rows > DRIVER_WAVE_ROW_BUDGET:
            return "spark:rows"
        docs = snaps.get(self.docs)
        bands = snaps.get(self.dedup_index().minhash_bands) if cfg.content_dedup else None
        if has_files(docs) and has_files(bands):
            # the wave's docs (at most the pending rows) against the
            # match's broadcast gate; the stored docs' bytes against the
            # orig-text read's gate
            if pending * dedup.N_BANDS > ds.BROADCAST_BAND_ROW_BUDGET:
                return "spark:dedup"
            size = self._live_bytes(docs.files)
            if size is None or size > DRIVER_TEXT_READ_BYTE_BUDGET:
                return "spark:dedup"
        return "driver"

    def _robots_rules(self) -> dict[str, dict]:
        """host → robots rules: the rows ``robots_df`` holds."""
        if self._rules_by_host is None:
            self._rules_by_host = {r["host"]: r for r in wg.robots_rules(self.config.graph)}
        return self._rules_by_host

    def _frontier_rows(self, found: dict[str, int]) -> list[tuple]:
        """Discovered canonical URL → depth, to frontier rows (url,
        url_hash, host, depth, attempt, score) of the robots-allowed ones:
        ``_with_frontier_cols`` + ``_robots_allowed`` in Python (murmur3
        ``url_hash`` by the numpy kernel, one call for all of them,
        ``host_of``'s host, ``score_expr``'s arithmetic)."""
        rules = self._robots_rules()
        kept = []
        for url, depth in found.items():
            m = _HOST_RE.match(url)
            host = m.group(1) if m else ""
            if wg.robots_allows(rules, url, host=host):
                kept.append((url, host, depth))
        hashes = spark_hash_strs([url for url, _, _ in kept]).tolist()
        return [
            (url, h, host, depth, 0, ((h & 0x7FFFFFFF) % 1000) / 1000.0)
            for (url, host, depth), h in zip(kept, hashes)
        ]

    def _run_wave_driver(self, wave: int, snaps: dict) -> dict[str, int] | str:
        """The driver tier of ``run_wave``: the whole wave in this process
        — pyarrow reads, numpy and Python work, one pyarrow file per table
        committed through ``Table._commit`` — and no Spark job. The same
        per-batch functions as the Spark tier (``fetch_batch``,
        ``dedup.text_signatures``, ``dedup_store.match_pairs``); only the
        relational glue is written twice, and the Spark tier is its
        reference. Lookups in the seen, band and docs tables go through
        their resident indexes, synced to ``snaps`` (the wave's snapshots)
        where first used; the seen index is exact, so no Bloom runs here
        (a Bloom a Spark-tier wave built is still kept current at commit).
        Returns the decline reason, having committed nothing, when the
        match trips DRIVER_MATCH_DOC_BUDGET (``"dedup"``) or a sync takes
        the indexes past RESIDENT_INDEX_BYTES (``"index"``)."""
        import time

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import to_arrow_schema

        cfg = self.config
        idx = self.dedup_index() if cfg.content_dedup else None
        marks: list[tuple[str, float]] = []
        t0 = [time.time()]

        def mark(name: str) -> None:
            now = time.time()
            marks.append((name, round(now - t0[0], 2)))
            t0[0] = now

        snap = snaps[self.frontier]
        if not has_files(snap):
            return {"scheduled": 0}
        fschema = to_arrow_schema(FRONTIER_ROW_SCHEMA)
        pending = pads.dataset(snap.files, schema=fschema).to_table()

        # --- politeness budget + exact per-host top-B: one sort, the
        # plain per-host row number (no salts: there are no tasks to skew)
        ranked = pending.take(
            pc.sort_indices(
                pending,
                sort_keys=[
                    ("host", "ascending"), ("depth", "ascending"), ("score", "descending"),
                    ("url_hash", "ascending"), ("url", "ascending"),
                ],
            )
        )
        hosts = pc.fill_null(ranked.column("host"), "").combine_chunks().dictionary_encode()
        codes = hosts.indices.to_numpy()
        n = len(codes)
        run_start = np.r_[True, codes[1:] != codes[:-1]] if n else np.zeros(0, bool)
        starts = np.flatnonzero(run_start)
        rank = np.arange(n) - starts[np.cumsum(run_start) - 1] + 1
        rules = self._robots_rules()
        budgets = []
        for host in hosts.dictionary.to_pylist():
            delay = rules.get(host, {}).get("crawl_delay")
            # floor(a / b) as Spark evaluates it: float division first
            # (1.0 // 0.1 is 9.0, floor(1.0 / 0.1) is 10)
            budgets.append(
                max(1, math.floor(cfg.wave_seconds / (cfg.delay if delay is None else delay)))
            )
        take = rank <= np.asarray(budgets, dtype=np.int64)[codes]
        sched = ranked.filter(pa.array(take))
        leftovers = ranked.filter(pa.array(~take))
        host_rank = rank[take].astype(np.int32)

        # --- fetch ---
        urls = sched.column("url").to_pylist()
        attempts = sched.column("attempt").to_numpy()
        depths = sched.column("depth").to_numpy()
        oks, links, spans = fetch_batch(cfg.graph, urls, attempts)
        ok = np.asarray(oks, dtype=bool)
        n_scheduled, n_fetched = len(urls), int(ok.sum())
        mark("fetch+lineage")
        if n_scheduled == 0:
            return {"scheduled": 0}

        # --- retries ---
        retry = ~ok & (attempts + 1 <= cfg.max_retries)
        requeue = sched.select(FRONTIER_COLS).filter(pa.array(retry))
        requeue = requeue.set_column(
            FRONTIER_COLS.index("attempt"), "attempt",
            pa.array(attempts[retry] + 1, pa.int32()),
        )

        # --- discovery: min depth per canonical link, then frontier
        # columns and the robots filter ---
        found: dict[str, int] = {}
        for i in np.flatnonzero(ok):
            d = int(depths[i]) + 1
            if d > cfg.max_depth:
                continue
            for url in links[i]:
                prev = found.get(url)
                if prev is None or d < prev:
                    found[url] = d
        disc = self._frontier_rows(found)
        hashes = np.fromiter((r[1] for r in disc), dtype=np.int64, count=len(disc))
        is_new = np.ones(len(disc), dtype=bool)
        seen_snap = snaps[self.seen]
        if has_files(seen_snap):
            # the seen rows with each discovery's url_hash, from the
            # resident index, url compared
            if not self._sync_index(self._seen_index, seen_snap):
                return "index"
            rows, _ = self._seen_index.find(hashes)
            seen_urls = set(self._seen_index.take(rows, "url"))
            is_new = np.fromiter((r[0] not in seen_urls for r in disc), bool, len(disc))
            mark("probed_count")
        new_rows = [r for r, keep in zip(disc, is_new) if keep]
        new_hashes = hashes[is_new]
        new_links = pa.Table.from_pylist(
            [dict(zip(FRONTIER_COLS, r)) for r in new_rows], schema=fschema
        )
        mark("new_links_count")

        # --- content near-dup match (backward-only, as on the Spark tier)
        ok_idx = np.flatnonzero(ok)
        doc_ids = [urls[i] for i in ok_idx]
        pairs: list = []
        if cfg.content_dedup:
            from crawl4ai_llm_spark.operators import dedup

            texts = [_doc_text(spans[i]) for i in ok_idx]
            sigs = dedup.text_signatures(texts)
            signed = [j for j, sig in enumerate(sigs) if sig is not None]
            keys = (
                dedup.band_keys(np.stack([sigs[j] for j in signed]))
                if signed
                else np.zeros((0, dedup.N_BANDS), dtype=np.int32)
            )
            signed_ids = [doc_ids[j] for j in signed]
            bands_snap, docs_snap = snaps[idx.minhash_bands], snaps[self.docs]
            if signed and has_files(docs_snap) and has_files(bands_snap):
                if not (
                    self._sync_index(idx.band_index, bands_snap)
                    and self._sync_index(self._docs_index, docs_snap)
                ):
                    return "index"
                text_of = dict(zip(doc_ids, texts))

                def pair_texts(need_new, need_orig):
                    orig = self._read_doc_texts(need_orig, docs_snap)
                    return None if orig is None else ({d: text_of[d] for d in need_new}, orig)

                pairs = idx.match_band_keys(
                    signed_ids, keys, pair_texts, cfg.content_dedup_tau, bands_snap
                )
                if pairs is None:
                    return "dedup"  # a driver-size gate tripped: Spark tier
            mark("content_dedup_match")
        n_dups = len(pairs)
        skip = set()
        if n_dups and cfg.content_dedup_policy == "skip":
            skip = {p["new_id"] for p in pairs}

        # --- commits: one file per table, checkpoint LAST ---
        tag = {"wave": wave}

        def arrow(schema, columns):
            return pa.Table.from_pydict(columns, schema=to_arrow_schema(schema))

        kept = [j for j, d in enumerate(doc_ids) if d not in skip]
        self.docs.append_arrow(
            arrow(DOCS_ROW_SCHEMA, {
                "doc_id": [doc_ids[j] for j in kept],
                "spans": [spans[ok_idx[j]] for j in kept],
                "wave": [wave] * len(kept),
            }),
            counters=tag, spark_schema=DOCS_ROW_SCHEMA,
        )
        self.seen.append_arrow(
            arrow(SEEN_ROW_SCHEMA, {
                "url_hash": new_links.column("url_hash"),
                "url": new_links.column("url"),
                "wave": [wave] * new_links.num_rows,
            }),
            counters=tag, spark_schema=SEEN_ROW_SCHEMA,
        )
        self.schedule.append_arrow(
            arrow(SCHEDULE_ROW_SCHEMA, {
                "url": sched.column("url"), "host": sched.column("host"),
                "depth": sched.column("depth"), "attempt": sched.column("attempt"),
                "host_rank": host_rank, "wave": [wave] * n_scheduled,
            }),
            counters=tag, spark_schema=SCHEDULE_ROW_SCHEMA,
        )
        self.frontier.overwrite_arrow(
            pa.concat_tables([leftovers.select(FRONTIER_COLS), requeue, new_links]),
            counters=tag, spark_schema=FRONTIER_ROW_SCHEMA,
        )
        if cfg.content_dedup:
            if n_dups:
                self.dup_pairs.append_arrow(
                    arrow(DUP_ROW_SCHEMA, {
                        "wave": [wave] * n_dups,
                        "new_id": [p["new_id"] for p in pairs],
                        "orig_id": [p["orig_id"] for p in pairs],
                        "jaccard": [p["jaccard"] for p in pairs],
                    }),
                    counters=tag, spark_schema=DUP_ROW_SCHEMA,
                )
            rows = [j for j, d in enumerate(signed_ids) if d not in skip]
            idx.minhash_bands.append_arrow(
                arrow(BAND_ROW_SCHEMA, {
                    "doc_id": [signed_ids[j] for j in rows for _ in range(dedup.N_BANDS)],
                    "band": np.tile(np.arange(dedup.N_BANDS, dtype=np.int32), len(rows)),
                    "key": keys[rows].ravel(),
                }),
                counters=idx.ingest_counters(n_fetched - len(skip), tag, snaps[idx.minhash_bands]),
                spark_schema=BAND_ROW_SCHEMA,
            )
        if cfg.seen_filter == "bloom" and self._blooms is not None:
            self._bloom_or(bloom_mod.blooms_from_hashes(new_hashes, cfg.bloom_buckets))
        mark("table_commits+filter_delta")
        self.checkpoints.append_pylist(
            [self._cp_row(wave, {
                "partition_id": 0, "urls_scheduled": n_scheduled,
                "urls_fetched": n_fetched, "urls_failed": n_scheduled - n_fetched,
            })],
            counters=tag,
        )
        mark("checkpoint")
        self.wave_marks[wave] = dict(marks)
        stats = {"scheduled": n_scheduled, "fetched": n_fetched}
        if cfg.content_dedup:
            stats["content_dups"] = n_dups
        return stats

    # ------------------------------------------------------------------ spark tier

    def _run_wave_spark(self, wave: int, transport: str | None) -> dict[str, int]:
        """The Spark tier of ``run_wave`` — the reference for the driver
        tier, and the tier for waves too large for the driver."""
        import time as _time

        marks: list[tuple[str, float]] = []
        _t = _time.time()

        def mark(name: str) -> None:
            # always recorded (7 clock reads/wave): wave_marks is how the
            # fatwave bench attributes the dedup phase DIRECTLY instead of
            # inferring it from an A/B wall subtraction that box-state
            # variance can swamp
            nonlocal _t
            now = _time.time()
            marks.append((name, round(now - _t, 2)))
            _t = now

        cfg = self.config
        pending = self.frontier.read()
        if pending is None:
            return {"scheduled": 0}

        # --- politeness budget (C5) + two-phase exact per-host top-B ---
        budget = F.greatest(
            F.lit(1),
            F.floor(F.lit(cfg.wave_seconds) / F.coalesce(F.col("crawl_delay"), F.lit(cfg.delay))),
        ).cast("int")
        with_budget = pending.join(
            F.broadcast(self.robots_df().select("host", "crawl_delay")), "host", "left"
        ).withColumn("budget", budget).drop("crawl_delay")

        pri = [F.col("depth").asc(), F.col("score").desc(), F.col("url_hash").asc()]
        salt = F.pmod(F.col("url_hash"), F.lit(cfg.n_salts))
        w_salted = Window.partitionBy("host", salt).orderBy(*pri)
        with_r1 = with_budget.withColumn("r1", F.row_number().over(w_salted)).cache()
        # phase 1 keeps at most n_salts·B rows per host; a row cut here can
        # never be in the true per-host top-B (its own salt already has B
        # better rows), so phase 2 over the survivors is EXACT.
        pruned = with_r1.where(F.col("r1") <= F.col("budget"))
        salt_cut = with_r1.where(F.col("r1") > F.col("budget"))
        w_host = Window.partitionBy("host").orderBy(*pri)
        # cache the ranking, not just its scheduled slice: the frontier
        # commit's leftovers (host_rank > budget) read the same cache
        # instead of re-running the host-window shuffle
        ranked = pruned.withColumn("host_rank", F.row_number().over(w_host)).cache()
        scheduled = ranked.where(F.col("host_rank") <= F.col("budget"))

        # --- fetch (C9) ---
        results = self._fetch(scheduled).withColumn(
            "partition_id", F.spark_partition_id()
        ).cache()

        # one action materializes fetch + caches and yields ALL counters —
        # the per-partition lineage rows (small: ≤ #partitions)
        lineage_rows = (
            results.groupBy("partition_id")
            .agg(
                F.count("*").alias("urls_scheduled"),
                F.sum(F.col("ok").cast("long")).alias("urls_fetched"),
                F.sum((~F.col("ok")).cast("long")).alias("urls_failed"),
            )
            .collect()
        )
        mark("fetch+lineage")
        n_scheduled = sum(r["urls_scheduled"] for r in lineage_rows)
        n_fetched = sum(r["urls_fetched"] for r in lineage_rows)
        if n_scheduled == 0:
            ranked.unpersist()
            with_r1.unpersist()
            results.unpersist()
            return {"scheduled": 0}

        # --- retries (C8): frontier columns rode through the fetch ---
        requeue = results.where(
            ~F.col("ok") & (F.col("attempt") + 1 <= cfg.max_retries)
        ).select(
            "url", "url_hash", "host", "depth", (F.col("attempt") + 1).alias("attempt"), "score"
        )

        # --- discovery (C1/C2/C10 + dedup C3/C4): links are canonical
        # already (the fetch batch canonicalized them) ---
        discovered = (
            results.where(F.col("ok"))
            .select(F.col("depth").alias("parent_depth"), F.explode("links").alias("url"))
            .where(F.col("parent_depth") + 1 <= cfg.max_depth)
            .select("url", (F.col("parent_depth") + 1).alias("depth"))
            .groupBy("url")
            .agg(F.min("depth").alias("depth"))  # wave-deterministic dedup
        )
        discovered = self._robots_allowed(
            self._with_frontier_cols(discovered)
        )
        seen_df = self.seen.read()
        bloom_bc = None
        probed = None
        probe_cache = None  # the cached df to unpersist after commit
        new_filters = None  # partitioned transport: next filter table rows
        if cfg.seen_filter in ("bloom", "cuckoo") and seen_df is not None:
            if cfg.seen_filter == "bloom" and transport == "partitioned":
                self._blooms = None  # auto switch mid-run: free the driver copy
                bsnap = self.blooms_table.current_snapshot()
                if bsnap is not None and bsnap.counters.get("stale"):
                    # deferred evict rebuild: any number of evictions since
                    # the last wave cost one full-corpus rebuild, here
                    self.blooms_table.overwrite(
                        bloom_mod.update_filter_rows(
                            seen_df.select("url_hash"), None, cfg.bloom_buckets
                        ),
                        counters={"wave": self.last_committed_wave()},
                    )
                filters_df = self.blooms_table.read()
                if filters_df is None:  # fresh engine / post-resume: full build
                    self.blooms_table.overwrite(
                        bloom_mod.update_filter_rows(
                            seen_df.select("url_hash"), None, cfg.bloom_buckets
                        ),
                        counters={"wave": self.last_committed_wave()},
                    )
                    filters_df = self.blooms_table.read()
                # ONE cogrouped job probes AND produces the next filter
                # table — the r03 shape re-read the filter table in a
                # second cogroup at commit time, a full extra job per wave
                combined = bloom_mod.probe_update_cogrouped(
                    discovered, filters_df, cfg.bloom_buckets
                ).cache()
                combined.count()
                mark("probed_count")
                probe_cache = combined
                probed = combined.where(F.col("bloom").isNull()).drop("bucket", "bloom")
                new_filters = combined.where(F.col("bloom").isNotNull()).select(
                    "bucket", "bloom"
                )
            else:
                if cfg.seen_filter == "bloom":
                    if self._blooms is None:  # fresh engine / post-resume: full build
                        self._build_seen_blooms()
                    probed, bloom_bc = bloom_mod.probe_expr(
                        discovered, self._blooms, cfg.bloom_buckets
                    )
                else:
                    if self._cuckoo is None:  # fresh engine / post-resume: full build
                        self._cuckoo = cuckoo_mod.update_filters(
                            seen_df.select("url_hash"), None, cfg.bloom_buckets
                        )
                    probed, bloom_bc = cuckoo_mod.probe_expr(
                        discovered, self._cuckoo, cfg.bloom_buckets
                    )
                # cache AND materialize: the two branches below would
                # otherwise race the unpopulated cache and duplicate the
                # whole canonicalize→probe chain
                probed = probed.cache()
                probed.count()
                mark("probed_count")
                probe_cache = probed
            definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
            candidates = probed.where(F.col("maybe_seen")).drop("maybe_seen")
            # exact verification tier (C4): only Bloom-positive candidates
            # pay the anti-join against the seen table
            verified_new = candidates.join(seen_df.select("url"), "url", "left_anti")
            new_links = definitely_new.unionByName(verified_new)
        elif seen_df is not None:
            new_links = discovered.join(seen_df.select("url"), "url", "left_anti")
        else:
            new_links = discovered
        new_links = new_links.select(
            "url", "url_hash", "host", "depth", "attempt", "score"
        ).cache()

        # --- assemble next frontier: rows cut in either top-B phase stay ---
        cols = ["url", "url_hash", "host", "depth", "attempt", "score"]
        leftovers = (
            ranked.where(F.col("host_rank") > F.col("budget"))
            .select(*cols)
            .unionByName(salt_cut.select(*cols))
        )
        next_frontier = leftovers.unionByName(requeue).unionByName(new_links)

        # --- commits (checkpoint LAST = the wave's commit point) ---
        # coalesce AFTER the cache: the fetch/discovery stages keep full
        # parallelism; only the write stage narrows. The four table writes
        # are independent (each reads only cached inputs), so they run as
        # CONCURRENT Spark jobs — wall time is the max, not the sum.
        k = cfg.commit_partitions or self.spark.sparkContext.defaultParallelism
        wave_tag = {"wave": wave}
        # materialize the discovery cache once, full width; the hashes it
        # returns are the broadcast Bloom tier's delta (no job of its own)
        new_hashes = new_links.select("url_hash").toArrow().column(0).to_numpy()
        mark("new_links_count")

        # --- content near-dup match (backward-only: wave docs vs the index
        # as of wave-1 — ingest happens in the commit phase below) ---
        pairs = None  # distributed-tier pair DataFrame (fallback path)
        driver_pairs = None  # driver-tier pair row list (steady-state path)
        n_dups = 0
        dup_caches: list = []
        wave_docs = None
        wave_prepared = None
        if cfg.content_dedup:
            idx = self.dedup_index()
            wave_docs = results.where(F.col("ok")).select(
                F.col("url").alias("doc_id"), self._spans_text(F.col("spans")).alias("text")
            )
            # ONE signature pass per wave, shared by the match and the
            # commit-phase ingest (it ran twice before — the single
            # largest slice of the per-wave dedup cost).
            # widen=False: results is already fetch-width (explicit
            # repartition before mapInPandas) — the default gate-repartition
            # re-shuffled every wave's texts for nothing
            wave_prepared = idx.prepare_batch(wave_docs, widen=False).cache()
            dup_caches.append(wave_prepared)
            stored = self.docs.read()
            if stored is not None and not idx.minhash_bands.is_empty():
                # wave rides along: a recrawled doc_id resolves to its
                # max-wave row on every orig-text path (_read_doc_texts)
                stored_text = stored.select(
                    "doc_id", self._spans_text(F.col("spans")).alias("text"), "wave"
                )
                # Driver tier first (VERDICT r06 #1): three map-only jobs
                # + driver numpy, vs the distributed verify's ~6-stage
                # chain — the chain's per-stage scheduling constant, not
                # bytes, was the wave wall at sandbox wave sizes. Runs
                # SERIALLY before the commit pool either way (deferring
                # the match into the pool was measured 60% slower: the
                # sandbox's documented concurrent-load pathology).
                dedup_timings: dict = {}
                driver_pairs = idx.match_documents_driver(
                    stored_text, tau=cfg.content_dedup_tau,
                    prepared=wave_prepared, n_batch=n_fetched, caches=dup_caches,
                    orig_texts=self._read_doc_texts, timings=dedup_timings,
                )
                for k_, v_ in dedup_timings.items():
                    marks.append((f"dedup.{k_}", v_))
                if driver_pairs is None:  # a driver-size gate tripped
                    pairs = idx.match_documents(
                        wave_docs, stored_text, tau=cfg.content_dedup_tau,
                        caches=dup_caches, prepared=wave_prepared, n_batch=n_fetched,
                    ).cache()
                    dup_caches.append(pairs)
                    n_dups = pairs.count()
                else:
                    n_dups = len(driver_pairs)
            mark("content_dedup_match")
        dup_new_ids = (
            sorted({p["new_id"] for p in driver_pairs}) if driver_pairs else []
        )

        from concurrent.futures import ThreadPoolExecutor

        def commit_docs():
            out = results.where(F.col("ok"))
            # n_dups is finalized SERIALLY (the match above) before the
            # commit pool starts; checking policy first here is just
            # belt-and-braces ordering, not a cross-thread dependency
            if cfg.content_dedup_policy == "skip" and n_dups:
                if driver_pairs:
                    # InSet filter, no join stage (ids bounded by the
                    # driver-tier doc budget)
                    out = out.where(~F.col("url").isin(dup_new_ids))
                elif pairs is not None:
                    out = out.join(
                        pairs.select(F.col("new_id").alias("url")).distinct(),
                        "url", "left_anti",
                    )
            # row-level wave tag: snapshot counters carry the wave too, but
            # compaction rewrites files and mixes waves — the column is what
            # makes "latest fetch per doc_id" (the recrawl path) expressible
            self.docs.append(
                out.select(
                    F.col("url").alias("doc_id"), "spans", F.lit(wave).alias("wave")
                ).coalesce(k),
                counters=wave_tag,
            )

        def commit_content_dedup():
            if not cfg.content_dedup:
                return
            if n_dups:
                if driver_pairs:
                    # pairs are already driver-side rows: one pyarrow
                    # write, NO Spark job in this pool slot for the audit
                    from pyspark.sql.pandas.types import to_arrow_schema

                    self.dup_pairs.append_pylist(
                        [{"wave": wave, **p} for p in driver_pairs],
                        counters=wave_tag,
                        schema=to_arrow_schema(DUP_ROW_SCHEMA),
                    )
                elif pairs is not None:
                    self.dup_pairs.append(
                        pairs.select(
                            F.lit(wave).alias("wave"), "new_id", "orig_id", "jaccard"
                        ).coalesce(1),
                        counters=wave_tag,
                    )
            ingest = wave_docs
            prepared = wave_prepared
            n_ingest = n_fetched  # wave docs are unique URLs, one per fetch
            if n_dups and cfg.content_dedup_policy == "skip":
                if driver_pairs:
                    ingest = wave_docs.where(~F.col("doc_id").isin(dup_new_ids))
                    prepared = wave_prepared.where(~F.col("doc_id").isin(dup_new_ids))
                    n_ingest -= len(dup_new_ids)
                elif pairs is not None:
                    skipped = pairs.select(F.col("new_id").alias("doc_id")).distinct()
                    ingest = wave_docs.join(skipped, "doc_id", "left_anti")
                    prepared = wave_prepared.join(skipped, "doc_id", "left_anti")
                    n_ingest = None  # ingest counts the survivors itself
            self.dedup_index().ingest_documents(
                ingest, counters=wave_tag, prepared=prepared, n_docs=n_ingest
            )

        def commit_seen():
            self.seen.append(
                new_links.select("url_hash", "url", F.lit(wave).alias("wave")).coalesce(k),
                counters=wave_tag,
            )

        def commit_schedule():
            self.schedule.append(
                scheduled.select(
                    "url", "host", "depth", "attempt", "host_rank", F.lit(wave).alias("wave")
                ).coalesce(k),
                counters=wave_tag,
            )

        def commit_frontier():
            self.frontier.overwrite(next_frontier.coalesce(k), counters=wave_tag)

        def update_seen_filter():
            # independent of the table writes (reads only cached inputs),
            # so it rides the same pool — wall time is max(commits, filter
            # delta), not the sum
            if cfg.seen_filter == "bloom" and transport == "partitioned":
                # the probe cogroup already produced the next filter rows
                # (probe_update_cogrouped) — this is a write from cache,
                # no second cogroup, no second filter-table scan.
                # new_filters is None when the wave ran with NO seen table
                # (probe branch skipped): nothing to commit — the next
                # wave's probe does a fresh full build from the seen table
                # this wave is committing (code-review r04 finding)
                if new_filters is not None:
                    self.blooms_table.overwrite(new_filters, counters=wave_tag)
            elif cfg.seen_filter == "bloom" and self._blooms is not None:
                self._bloom_or(bloom_mod.blooms_from_hashes(new_hashes, cfg.bloom_buckets))
            elif cfg.seen_filter == "cuckoo" and self._cuckoo is not None:
                self._cuckoo = cuckoo_mod.update_filters(
                    new_links, self._cuckoo, cfg.bloom_buckets
                )

        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [
                pool.submit(fn)
                for fn in (
                    commit_docs,
                    commit_seen,
                    commit_schedule,
                    commit_frontier,
                    update_seen_filter,
                    commit_content_dedup,
                )
            ]
            for f in futures:
                f.result()
        mark("table_commits+filter_delta")
        # checkpoint LAST, written driver-side (16 rows don't need a job)
        self.checkpoints.append_pylist(
            [self._cp_row(wave, r) for r in lineage_rows], counters=wave_tag
        )
        mark("checkpoint")
        self.wave_marks[wave] = dict(marks)

        stats = {"scheduled": n_scheduled, "fetched": n_fetched}
        if cfg.content_dedup:
            stats["content_dups"] = n_dups
        ranked.unpersist()
        with_r1.unpersist()
        results.unpersist()
        new_links.unpersist()
        for c in dup_caches:  # per-wave plans are unique — CacheManager
            c.unpersist()  # never reclaims them (r04 leak discipline)
        if probe_cache is not None:
            probe_cache.unpersist()
        if bloom_bc is not None:
            bloom_bc.destroy()
        return stats

    def _canon_rows(self, urls: list[str], depth: int = 0) -> DataFrame:
        urls_df = self.spark.createDataFrame([(u,) for u in urls], ["url"])
        canon = urls_df.select(canonicalize_url(F.col("url")).alias("url")).where(
            F.col("url").isNotNull()
        )
        return self._robots_allowed(
            self._with_frontier_cols(canon.distinct().withColumn("depth", F.lit(depth)))
        )

    def evict_from_seen(self, urls: list[str]) -> int:
        """Forget URLs (the recrawl path): remove from the seen table and
        DELETE their fingerprints from the cuckoo tier — the operation a
        Bloom filter cannot express (with seen_filter="bloom" the bitmap is
        rebuilt from the remaining seen table instead). The next organic
        discovery of these URLs re-enqueues them."""
        wave = self.last_committed_wave()
        rows = self._canon_rows(urls).cache()
        n = rows.count()
        seen_df = self.seen.read()
        if seen_df is not None:
            remaining = seen_df.join(rows.select("url"), "url", "left_anti")
            self.seen.overwrite(remaining, counters={"wave": wave})
        if self.config.seen_filter == "cuckoo" and self._cuckoo is not None:
            self._cuckoo = cuckoo_mod.update_filters(
                rows.select("url_hash"), self._cuckoo, self.config.bloom_buckets, delete=True
            )
        elif self.config.seen_filter == "bloom":
            self._blooms = None  # bloom can't delete — rebuild from seen
            if not self.blooms_table.is_empty():
                # DEFERRED rebuild (ADVICE r03): a pre-evict filter is still
                # CORRECT — it merely over-includes the evicted URLs (false
                # positives, which the exact anti-join verifies anyway). So
                # N evictions pay zero rebuilds here; the table is tagged
                # ``stale`` and run_wave rebuilds it ONCE from the remaining
                # seen set at the next probe. Tagging — not dropping —
                # matters for "auto": the table's non-emptiness IS the
                # one-way-switch state, and a dropped table would make
                # _resolve_transport fall back to broadcast and collect the
                # entire multi-GB filter set onto the driver.
                snap = self.blooms_table.current_snapshot()
                self.blooms_table.retag({**snap.counters, "stale": 1})
        rows.unpersist()
        return n

    def enqueue(self, urls: list[str], depth: int = 0) -> int:
        """Add URLs to the frontier mid-crawl (dedup'd against seen) —
        late seeding or explicit recrawl after evict_from_seen."""
        wave = self.last_committed_wave()
        rows = self._canon_rows(urls, depth)
        seen_df = self.seen.read()
        if seen_df is not None:
            rows = rows.join(seen_df.select("url"), "url", "left_anti")
        rows = rows.cache()
        # materializes the cache; the hashes feed the broadcast Bloom tier
        hashes = rows.select("url_hash").toArrow().column(0).to_numpy()
        n = len(hashes)
        pending = self.frontier.read()
        merged = rows if pending is None else pending.unionByName(rows)
        self.frontier.overwrite(merged, counters={"wave": wave})
        self.seen.append(
            rows.select("url_hash", "url", F.lit(wave).alias("wave")), counters={"wave": wave}
        )
        if self.config.seen_filter == "cuckoo" and self._cuckoo is not None:
            self._cuckoo = cuckoo_mod.update_filters(
                rows.select("url_hash"), self._cuckoo, self.config.bloom_buckets
            )
        elif self.config.seen_filter == "bloom" and self._resolve_transport() == "partitioned":
            if self.blooms_table.read() is not None:
                # carry a pending ``stale`` tag through (the evicted keys are
                # still OR-ed into the bitmaps this delta-update carries —
                # the deferred rebuild at the next probe must still happen)
                bsnap = self.blooms_table.current_snapshot()
                stale = {"stale": 1} if bsnap and bsnap.counters.get("stale") else {}
                self.blooms_table.overwrite(
                    bloom_mod.update_filter_rows(
                        rows.select("url_hash"), self.blooms_table.read(), self.config.bloom_buckets
                    ),
                    counters={"wave": wave, **stale},
                )
        elif self.config.seen_filter == "bloom" and self._blooms is not None:
            self._bloom_or(bloom_mod.blooms_from_hashes(hashes, self.config.bloom_buckets))
        rows.unpersist()
        return n

    # ------------------------------------------------------------------ drive

    def last_committed_wave(self) -> int:
        snap = self.checkpoints.current_snapshot()
        if snap is None:
            return -1
        return int(snap.counters.get("wave", 0))

    def resume(self) -> int:
        """Roll every table back to the last fully-committed wave (the
        checkpoint table's HEAD tag). Tables whose HEAD carries a NEWER wave
        tag were written by a killed, uncommitted wave — rewind them."""
        # content-dedup tables (when enabled) rewind with everything else —
        # a torn wave's index ingest / pair append must not survive, or the
        # re-run wave would double-ingest its band keys
        dedup_tables = []
        if self.config.content_dedup:
            idx = self.dedup_index()
            dedup_tables = [self.dup_pairs, idx.minhash_bands, idx.sign_bands]
        # a kill between a manifest tmp-write and its atomic rename leaves
        # orphaned *.tmp-* files; resume is single-writer, so sweep them here
        for tbl in (self.checkpoints, self.docs, self.seen, self.schedule,
                    self.frontier, self.blooms_table, *dedup_tables):
            tbl.clean_stale_tmp()
        committed = self.last_committed_wave()
        self._blooms = None  # rebuild from the (possibly rolled-back) seen table
        self._cuckoo = None
        if committed < 0:
            return -1
        # blooms_table included: a partitioned-transport filter snapshot
        # NEWER than the committed wave would only over-include (false
        # positives, exact-verified anyway), but rolling it back keeps the
        # filter exactly in sync with the seen table
        for tbl in (self.docs, self.seen, self.schedule, self.frontier,
                    self.blooms_table, *dedup_tables):
            snap = tbl.current_snapshot()
            if snap is None or int(snap.counters.get("wave", 0)) <= committed:
                continue
            for cand in reversed(tbl.snapshots()):
                if int(cand.counters.get("wave", 0)) <= committed:
                    tbl.rollback(cand.snapshot_id)
                    break
            else:
                # every snapshot postdates the checkpoint: the kill hit the
                # table's FIRST-ever write — reset to empty (rollback cannot
                # rewind past snapshot 1)
                tbl.truncate(counters={"wave": committed})
        self._migrate_legacy_docs(committed)
        return committed

    def _migrate_legacy_docs(self, committed: int) -> None:
        """Backfill the row-level ``wave`` column on a pre-wave warehouse.

        Docs written before the wave column existed (pre-r06) have no
        recrawl history — each doc_id appears once — so a constant
        backfill with the committed wave is exact for the column's one
        consumer ("latest fetch per doc_id" in rebuild_content_index)
        and unblocks the schema-matched appends of resumed waves."""
        snap = self.docs.current_snapshot()
        if snap is None:
            return
        docs = self.docs.read()
        if docs is None or "wave" in docs.columns:
            return
        self.docs.overwrite(
            docs.withColumn("wave", F.lit(committed)),
            counters={"wave": committed, "legacy_wave_backfill": 1},
        )

    def compact_tables(
        self,
        target_partitions: int | None = None,
        expire_keep_last: int | None = None,
    ) -> None:
        """Maintenance: rewrite the append-only tables to a bounded file
        count (run between waves every K waves on long crawls).
        ``expire_keep_last`` additionally garbage-collects manifests/files
        older than that many snapshots per table (catalog.expire_snapshots)
        — without it, superseded files stay referenced by old manifests
        forever and disk grows with cores×waves. NOTE the append-lineage
        shape: every pre-compaction snapshot references the full file
        history, so only ``expire_keep_last=1`` (keep just the compacted
        snapshot) actually frees space (measured 331→118 files on a
        4-wave crawl) — and it is resume-safe because compaction runs
        between fully-committed waves and tags the compacted snapshot
        with the committed wave (kill/resume + oracle parity verified).
        Values ≥ 2 preserve rollback depth instead of space."""
        k = target_partitions or self.spark.sparkContext.defaultParallelism
        wave_tag = {"wave": self.last_committed_wave()}
        for tbl in (self.seen, self.docs, self.schedule):
            tbl.compact(k, counters=wave_tag)
            if expire_keep_last:
                tbl.expire_snapshots(expire_keep_last)
        if self.config.content_dedup:
            # the per-wave index appends accumulate files like every other
            # table; DedupIndex.compact preserves its own counters (n_docs,
            # sig_scheme + the last ingest's wave tag, which between waves
            # IS the committed wave — resume-safe)
            self.dedup_index().compact(k, expire_keep_last=expire_keep_last)
            if not self.dup_pairs.is_empty():
                self.dup_pairs.compact(k, counters=wave_tag)
                if expire_keep_last:
                    self.dup_pairs.expire_snapshots(expire_keep_last)

    def rebuild_content_index(self) -> int:
        """Rebuild the content-dedup index from the CURRENT docs table,
        keeping only the latest fetch per doc_id (highest ``wave``).

        The per-wave ingest is append-only, so evict_from_seen + organic
        recrawl grows one stale band-key copy per recrawl (the corner
        documented on CrawlConfig.content_dedup): matches stay CORRECT —
        the probe deduplicates — but every later matcher pays the stale
        rows' shuffle weight, and a changed page's OLD content keeps
        attracting pairs. A recrawl-heavy deployment runs this between
        waves. Cost shape: one doc_id window shuffle over the docs table
        + one signature pass over the survivors — the same scale as
        re-ingesting the corpus once, never all-pairs. Resume-safe like
        compact_tables: runs between committed waves, tagged with the
        committed wave. Returns the rebuilt document count."""
        if not self.config.content_dedup:
            raise ValueError("content_dedup is off for this crawl")
        wave = self.last_committed_wave()
        idx = self.dedup_index()
        docs = self.docs.read()
        if docs is None:
            if not idx.minhash_bands.is_empty():
                idx.minhash_bands.truncate(counters={"wave": wave})
            return 0
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(F.col("wave").desc())
        text = (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", self._spans_text(F.col("spans")).alias("text"))
            .cache()
        )
        idx.mark_stale()
        idx.sync_documents(text, tags={"wave": wave})
        text.unpersist()
        return int(idx.minhash_bands.current_snapshot().counters["n_docs"])

    def run(self, seeds: list[str] | None = None, max_waves: int | None = None) -> int:
        """Crawl to frontier exhaustion (or the wave cap). Returns the number
        of waves executed."""
        if seeds is not None:
            self.init_seeds(seeds)
            start = 0
        else:
            start = self.resume()
        max_waves = max_waves or self.config.max_waves
        wave = start
        while wave < max_waves:
            wave += 1
            stats = self.run_wave(wave)
            if stats.get("scheduled", 0) == 0:
                break
            if self.config.compact_every and wave % self.config.compact_every == 0:
                self.compact_tables()
            elif self.config.compact_file_threshold:
                snap = self.docs.current_snapshot()
                if snap and len(snap.files) > self.config.compact_file_threshold:
                    # expire_keep_last=1: on the append-lineage shape only
                    # keeping just the compacted snapshot frees files (see
                    # compact_tables docstring) — the point of a file-count
                    # trigger is bounding the live set, so free it
                    self.compact_tables(expire_keep_last=1)
        return wave - start

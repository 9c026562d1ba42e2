"""The benchmark's workloads and metrics: the single source that
``BENCHMARK.json`` is written from (``python3 perfbench/spec.py``)."""

from __future__ import annotations

import json

from store import OPS
from suite import HEADLINE

WORKLOADS = [
    {
        "name": "crawl",
        "why": "frontier waves on a seeded 40-host graph with near-dups; runs frontier, seen-set, catalog "
        "commits and the in-wave dedup match; traced runs also time the 20 headline queries and matches",
    },
    {
        "name": "store",
        "why": "ProductStore gets, saves, updates, deletes and lists on a seeded 10k-row table; runs the "
        "storage layer and its catalog table, never the frontier, the dedup index or the queries",
    },
]

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("cpu_s_per_item", "s", "lower", 0.25),
]

CRAWL_LAYER = [
    ("wave.s_p50", "s", "lower"),
    ("wave.fetch_s", "s", "lower"),
    ("wave.probe_s", "s", "lower"),
    ("wave.new_links_s", "s", "lower"),
    ("wave.dedup_match_s", "s", "lower"),
    ("wave.commit_s", "s", "lower"),
    ("wave.jobs", "count", "lower"),
    ("wave.tasks", "count", "lower"),
    ("crawl.init_s", "s", "lower"),
    ("crawl.urls_scheduled", "count", "higher"),
    ("crawl.urls_fetched", "count", "higher"),
    ("crawl.fetch_ok_frac", "ratio", "higher"),
    ("crawl.waves", "count", "higher"),
    ("crawl.dup_pairs", "count", "higher"),
]
CATALOG_LAYER = [
    (f"catalog.{kind}.{table}", unit, "lower")
    for table in ("docs_spans", "seen", "schedule", "minhash_bands", "products")
    for kind, unit in (("files", "count"), ("bytes", "bytes"))
]
STORE_LAYER = (
    [("store.ingest_s", "s", "lower"), ("store.ingest_rows_per_s", "1/s", "higher")]
    + [(f"store.{op}_s_p50", "s", "lower") for op in OPS]
    + [(f"store.{op}.jobs", "count", "lower") for op in OPS]
    + [("store.bytes_per_row", "bytes", "lower")]
)
DEDUP_STORE_LAYER = [
    ("index.ingest_s", "s", "lower"),
    ("match.s_p50", "s", "lower"),
    ("index.band_rows", "count", "lower"),
    ("match.pairs", "count", "higher"),
    ("match.jobs", "count", "lower"),
]
QUERY_LAYER = [("suite_s", "s", "lower")] + [
    (f"q.{q}.{kind}", unit, "lower")
    for q in HEADLINE
    for kind, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count"))
]
# peak memory is a layer figure, not an end-to-end one: the JVM heap grows
# with GC timing, so its spread across seeds (about 20%) is close to the
# largest bound an end-to-end metric may have
MEMORY_LAYER = [("mem.peak_pss_mb", "MB", "lower")]
TRACE_LAYER = [
    ("trace.spans", "count", "lower"),
    ("trace.self_s", "s", "lower"),
    ("trace.items_per_s", "1/s", "higher"),
]
PER_LAYER = (
    CRAWL_LAYER
    + CATALOG_LAYER
    + STORE_LAYER
    + DEDUP_STORE_LAYER
    + QUERY_LAYER
    + MEMORY_LAYER
    + TRACE_LAYER
)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


RUN_SECONDS = 15

if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))

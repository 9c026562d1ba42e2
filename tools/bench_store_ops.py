"""Per-call cost of the ``store`` workload's rounds, with the counters that
explain it.

Sets up the ``store`` workload (``perfbench/store.py``: a 10k-row bulk
load into a 16-bucket ProductStore and one warm-up round), then runs
``--rounds`` rounds of its call mix (three gets, a ten-id get_products, a
one-row save, update and delete, a filtered and sorted list page) in one
process. Prints one JSON line: each op's p50 wall, the round's calls per
second at those p50s (the workload's ``items_per_s``), and per-round
counts that contention cannot move:

- ``decodes``: parquet files decoded whole (``ParquetFile.read``);
- ``head_reads``: opens of a table's HEAD pointer;
- ``manifest_parses``: opens of a ``snap-N.json`` manifest for reading;
- ``opens``: every file the catalog opens;
- ``hash_kernel_calls``: calls of the numpy Murmur3 kernel
  (``hashing.spark_hash_strs``);
- ``file_bucket_calls``: bucket ids parsed from a file path
  (``Table._file_bucket``).

The counts are medians over the rounds (with min and max). ``--src=DIR``
imports the package from another checkout, to count an older tree with
the same tool.

Usage: python tools/bench_store_ops.py [--seed=3] [--rounds=300] [--src=DIR]
Run with ``SPARK_GRAFT_CPUS`` set to the box's cores.
"""

from __future__ import annotations

import builtins
import json
import os
import statistics
import sys
import tempfile
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def _count(counts: Counter) -> None:
    """Install the counting wrappers (module-level patches, kept for the
    rest of the process)."""
    import pyarrow.parquet as pq

    from crawl4ai_llm_spark import catalog
    from crawl4ai_llm_spark.frontier import hashing

    def counting_open(path, mode="r", *args, **kwargs):
        counts["opens"] += 1
        name = os.path.basename(str(path))
        if "r" in mode and name == "HEAD":
            counts["head_reads"] += 1
        elif "r" in mode and name.startswith("snap-") and name.endswith(".json"):
            counts["manifest_parses"] += 1
        return builtins.open(path, mode, *args, **kwargs)

    catalog.open = counting_open  # shadows the builtin in catalog only

    read = pq.ParquetFile.read

    def counting_read(self, *args, **kwargs):
        counts["decodes"] += 1
        return read(self, *args, **kwargs)

    pq.ParquetFile.read = counting_read

    kernel = hashing.spark_hash_strs

    def counting_kernel(values):
        counts["hash_kernel_calls"] += 1
        return kernel(values)

    hashing.spark_hash_strs = counting_kernel

    file_bucket = catalog.Table._file_bucket

    def counting_file_bucket(path):
        counts["file_bucket_calls"] += 1
        return file_bucket(path)

    catalog.Table._file_bucket = staticmethod(counting_file_bucket)


def main() -> None:
    args = dict(a[2:].split("=", 1) for a in sys.argv[1:] if a.startswith("--") and "=" in a)
    seed, n_rounds = int(args.get("seed", 3)), int(args.get("rounds", 300))
    sys.path.insert(0, os.path.abspath(args.get("src", REPO)))

    from store import OPS, ROUND, Store
    from tracer import Tracer

    from crawl4ai_llm_spark.session import get_spark

    spark = get_spark(app_name="bench_store_ops")
    with tempfile.TemporaryDirectory() as tmp:
        bench = Store(spark, Tracer(spark, enabled=False), tmp, seed)
        bench.setup()
        counts: Counter = Counter()
        _count(counts)
        per_round: list[Counter] = []
        t0 = time.perf_counter()
        for _ in range(n_rounds):
            counts.clear()
            bench._round(recorded=True)
            per_round.append(Counter(counts))
        wall = time.perf_counter() - t0
        if bench.failed:
            raise SystemExit(f"{bench.failed} wrong store results")
        p50 = {op: statistics.median(s["s"] for s in bench.spans[op]) for op in OPS}
        names = ["decodes", "head_reads", "manifest_parses", "opens",
                 "hash_kernel_calls", "file_bucket_calls"]
        print(json.dumps({
            "src": os.path.abspath(args.get("src", REPO)),
            "seed": seed,
            "rounds": n_rounds,
            "wall_s": round(wall, 3),
            "items_per_s": round(len(ROUND) / sum(p50[op] for op in ROUND), 1),
            "p50_ms": {op: round(v * 1e3, 3) for op, v in p50.items()},
            "per_round": {
                k: {
                    "median": statistics.median(c[k] for c in per_round),
                    "min": min(c[k] for c in per_round),
                    "max": max(c[k] for c in per_round),
                }
                for k in names
            },
            "tiers": dict(bench.store.tiers),
        }), flush=True)


if __name__ == "__main__":
    main()

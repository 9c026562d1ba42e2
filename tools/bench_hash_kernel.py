"""Per-kernel micro-bench: Spark's Murmur3 string hash on the driver,
scalar Python (``hashing.spark_hash_str``, one call per string) against
the numpy kernel (``hashing.spark_hash_strs``, one call per batch).

Two corpora, the strings the engine hashes:

- ``ids``: ProductStore ids as the store bench writes them, ``p%07d``
  (8 bytes: two blocks, no tail);
- ``urls``: canonical page URLs of the crawl bench's graph
  (``https://host<h>.example/p/<p>``, 25-30 bytes: every tail length).

Each batch size is timed as the best of ``--repeats`` runs over
consecutive slices of the corpus; the kernel is timed on a list of str
(what ``_frontier_rows`` and ``_buckets_of`` pass) and on a pyarrow
string array (what ``commit_arrow_buckets`` passes). Both results are
checked equal before any timing. One JSON line per (corpus, size), then
a markdown table; every line carries the in-run sys and steal shares.

Usage: python tools/bench_hash_kernel.py [--sizes=1,10,100,1000,10000,100000] [--repeats=5]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def corpora(n: int) -> dict[str, list[str]]:
    from crawl4ai_llm_spark.frontier import webgraph as wg

    spec = wg.GraphSpec(n_hosts=40, pages_per_host=300, hot_factor=20)
    urls = [
        wg.canonical_page_url(h, p) for h in range(spec.n_hosts) for p in range(spec.host_pages(h))
    ]
    return {"ids": [f"p{k:07d}" for k in range(n)], "urls": (urls * (n // len(urls) + 1))[:n]}


def best(fn, batches: list, repeats: int) -> float:
    """Best wall over ``repeats`` passes, each pass one call per batch,
    divided by the batch count: seconds per batch."""
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        for b in batches:
            fn(b)
        walls.append(time.perf_counter() - t)
    return min(walls) / len(batches)


def main() -> None:
    import numpy as np
    import pyarrow as pa
    from boxstate import InRun

    from crawl4ai_llm_spark.frontier.hashing import spark_hash_str, spark_hash_strs

    args = dict(a.lstrip("-").split("=", 1) for a in sys.argv[1:])
    sizes = [int(x) for x in args.get("sizes", "1,10,100,1000,10000,100000").split(",")]
    repeats = int(args.get("repeats", "5"))
    total = max(sizes) * 2
    rows = []
    for name, values in corpora(total).items():
        for size in sizes:
            # enough batches for >= 2 * size strings, at least 20 calls
            k = max(2, min(20, total // size))
            lists = [values[i * size : (i + 1) * size] for i in range(k)]
            arrays = [pa.array(b, pa.string()) for b in lists]
            for b, a in zip(lists, arrays):
                want = np.array([spark_hash_str(s) for s in b], np.int32)
                assert (spark_hash_strs(b) == want).all() and (spark_hash_strs(a) == want).all()
            with InRun() as box:
                py = best(lambda b: [spark_hash_str(s) for s in b], lists, repeats)
                np_list = best(spark_hash_strs, lists, repeats)
                np_arrow = best(spark_hash_strs, arrays, repeats)
            row = {
                "corpus": name,
                "size": size,
                "mean_bytes": round(sum(len(s.encode()) for s in lists[0]) / size, 1),
                "python_per_s": round(size / py),
                "numpy_list_per_s": round(size / np_list),
                "numpy_arrow_per_s": round(size / np_arrow),
                "speedup_arrow": round(py / np_arrow, 2),
                "sys_frac": box.sys_frac,
                "steal_frac": box.steal_frac,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
    print()
    print("| corpus | batch | bytes/str | Python str/s | numpy (list) str/s | numpy (Arrow) str/s | Arrow vs Python |")
    print("|---|---:|---:|---:|---:|---:|---:|")
    for r in rows:
        print(
            f"| {r['corpus']} | {r['size']:,} | {r['mean_bytes']} | {r['python_per_s']:,} "
            f"| {r['numpy_list_per_s']:,} | {r['numpy_arrow_per_s']:,} | {r['speedup_arrow']}× |"
        )


if __name__ == "__main__":
    main()

"""Per-wave cost of a long crawl on the benchmark's graph: does a wave's
wall grow with the crawl's history?

Runs the ``crawl`` workload's graph and config (``perfbench/crawl.py``:
40 hosts, content dedup on, policy flag) for ``--waves`` waves in one
process and prints one JSON line per wave (wall, tier, scheduled URLs,
the ``content_dedup_match`` phase, the engine's resident index bytes
when it has them), then a summary line: per checkpoint wave, the median
wall of the ten waves ending there. The graph runs dry at about wave 650.

Usage: python tools/bench_crawl_history.py [--seed=7] [--waves=300]
                                           [--at=50,150,300] [--force-driver]
``--force-driver`` sets ``DRIVER_WAVE_ROW_BUDGET`` past any size, so every
wave the other gates allow stays on the driver tier. Run with
``SPARK_GRAFT_CPUS`` set to the box's cores.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def main() -> None:
    from crawl import GRAPH, MAX_DEPTH, N_SEEDS, WAVE_SECONDS

    from crawl4ai_llm_spark.frontier import engine as eng_mod
    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine
    from crawl4ai_llm_spark.session import get_spark

    args = dict(a[2:].split("=", 1) for a in sys.argv[1:] if "=" in a)
    seed, n_waves = int(args.get("seed", 7)), int(args.get("waves", 300))
    at = [int(w) for w in args.get("at", "50,150,300").split(",")]
    if "--force-driver" in sys.argv:
        eng_mod.DRIVER_WAVE_ROW_BUDGET = 10**15
    spark = get_spark(app_name="bench_crawl_history")
    spec = wg.GraphSpec(**GRAPH, seed=f"perfbench-{seed}")
    cfg = CrawlConfig(wave_seconds=WAVE_SECONDS, max_depth=MAX_DEPTH, graph=spec,
                      content_dedup=True, content_dedup_policy="flag")
    walls = {}
    with tempfile.TemporaryDirectory() as tmp:
        eng = FrontierEngine(spark, tmp, cfg)
        eng.init_seeds(wg.seed_urls(spec, n_seeds=N_SEEDS))
        resident = getattr(eng, "resident_index_bytes", None)
        for wave in range(1, n_waves + 1):
            before = dict(eng.tiers)
            t0 = time.perf_counter()
            stats = eng.run_wave(wave)
            wall = time.perf_counter() - t0
            if not stats.get("scheduled"):
                break
            tier = next(t for t, n in eng.tiers.items() if n > before.get(t, 0))
            walls[wave] = wall
            print(json.dumps({
                "wave": wave, "wall_s": round(wall, 4), "tier": tier,
                "scheduled": stats["scheduled"],
                "match_s": eng.wave_marks.get(wave, {}).get("content_dedup_match"),
                "resident_bytes": resident() if resident else None,
            }), flush=True)
        tiers = dict(eng.tiers)
    print(json.dumps({
        "summary": {
            str(w): round(statistics.median(walls[v] for v in range(w - 9, w + 1) if v in walls), 4)
            for w in at if w in walls
        },
        "waves": len(walls), "tiers": tiers, "seed": seed,
        "force_driver": "--force-driver" in sys.argv,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

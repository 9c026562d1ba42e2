"""spark-submit entry point for the crawl job.

Ships with the package zipped via --py-files (tools/spark_submit_crawl.sh):

    spark-submit --master <cluster> \
        --py-files crawl4ai_llm_spark.zip \
        tools/submit_crawl.py --warehouse /path --seeds 1000 --max-waves 6

The session is taken from spark-submit's conf (no master override here);
everything engine-side is identical to the library path — this script only
parses args, seeds, runs, and prints the wave summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--seeds", type=int, default=1000)
    ap.add_argument("--max-waves", type=int, default=6)
    ap.add_argument("--n-hosts", type=int, default=200)
    ap.add_argument("--pages-per-host", type=int, default=300)
    ap.add_argument("--wave-seconds", type=float, default=3600.0)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

    spark = SparkSession.builder.appName("crawl4ai-llm-spark-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spec = wg.GraphSpec(n_hosts=args.n_hosts, pages_per_host=args.pages_per_host)
    cfg = CrawlConfig(
        wave_seconds=args.wave_seconds,
        max_waves=args.max_waves,
        graph=spec,
    )
    eng = FrontierEngine(spark, args.warehouse, cfg)
    t0 = time.time()
    if args.resume:
        waves = eng.run(seeds=None, max_waves=args.max_waves)
    else:
        waves = eng.run(seeds=wg.seed_urls(spec, n_seeds=args.seeds))
    dt = time.time() - t0
    n = eng.schedule.read().count()
    print(
        json.dumps(
            {
                "waves": waves,
                "urls_scheduled": n,
                "seconds": round(dt, 2),
                "urls_per_sec": round(n / dt, 1),
                "seen": eng.seen.read().count(),
                "docs": eng.docs.read().count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

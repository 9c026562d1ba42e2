"""resume() under content_dedup at bench-graph scale (VERDICT r05 #7).

tests/test_crawl_dedup.py proves kill/resume correctness on the 8-host
parity graph; this tool exercises the shape a 100 TB crawl lives in: the
214k-URL bench graph, content-dedup on, compaction (compact_tables via
compact_every) running MID-crawl, a torn wave forged at realistic size
(a full wave's worth of band rows + pairs landed, checkpoint didn't),
then resume → rewind → finish. Reports the resume wall (the index
rewind), the finish wall, and EXACT dup-pair equality against an
uninterrupted run of the same graph/seeds — the same oracle contract as
the unit test, at 1000× the rows.

Usage: python tools/bench_crawl_resume.py [--quick]
One JSON line per phase + a final summary line; BENCH.md r06 evidence.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def pair_set(eng) -> set:
    if eng.dup_pairs.is_empty():
        return set()
    return {
        (r["wave"], r["new_id"], r["orig_id"], round(r["jaccard"], 6))
        for r in eng.dup_pairs.read().collect()
    }


def main() -> None:
    from pyspark.sql import functions as F

    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine
    from crawl4ai_llm_spark.session import get_spark
    from tools.boxstate import InRun

    quick = "--quick" in sys.argv
    spark = get_spark(app_name="bench_crawl_resume")
    spec = wg.GraphSpec(
        n_hosts=30 if quick else 300,
        pages_per_host=70 if quick else 700,
        hot_factor=30,
        max_links=12,
        # short dup chains (length pages_per_host/k) so the pair-equality
        # oracle is non-trivial without the O(chain^2) flag-mode explosion
        # the r05 bench graph hit at k=7 (431k pairs): k=10/50 keeps chains
        # at 7/14 links -> ~hundreds of pairs, not hundreds of thousands.
        near_dup_every=10 if quick else 50,
        seed="bench-42",
    )
    seeds = wg.seed_urls(spec, n_seeds=100 if quick else 1000)
    base = dict(
        wave_seconds=3600.0,
        max_depth=5,
        graph=spec,
        content_dedup=True,
        content_dedup_policy="flag",
        compact_every=3,  # compaction mid-crawl — the long-crawl shape
    )

    with tempfile.TemporaryDirectory() as ref_tmp, tempfile.TemporaryDirectory() as tmp:
        # uninterrupted reference (the oracle for the resumed run)
        ref = FrontierEngine(spark, ref_tmp, CrawlConfig(**base, max_waves=8))
        with InRun() as m_ref:
            ref.run(seeds=seeds)
        ref_pairs = pair_set(ref)
        ref_docs = ref.docs.read().count()
        print(json.dumps({"phase": "reference", "wall_sec": round(m_ref.wall, 1),
                          "sys_frac": m_ref.sys_frac, "dup_pairs": len(ref_pairs),
                          "docs": ref_docs}), flush=True)

        # crawl to wave 5 (compaction fires at wave 3), then "crash"
        eng = FrontierEngine(spark, tmp, CrawlConfig(**base, max_waves=5))
        with InRun() as m_pre:
            eng.run(seeds=seeds)
        print(json.dumps({"phase": "pre_kill_5_waves", "wall_sec": round(m_pre.wall, 1),
                          "sys_frac": m_pre.sys_frac}), flush=True)

        # forge the torn wave-6 at realistic size: a full wave's worth of
        # band rows + pair rows landed, the wave checkpoint did not
        idx = eng.dedup_index()
        bands_schema = idx.minhash_bands.read().schema
        committed = int(idx.minhash_bands.current_snapshot().counters["n_docs"])
        n_junk = max(1000, ref_docs // 8)
        junk_bands = spark.range(n_junk * 4).select(
            F.concat(
                F.lit("torn-doc-"), (F.col("id") / 4).cast("long").cast("string")
            ).alias(bands_schema.names[0]),
            F.pmod("id", F.lit(4)).cast(bands_schema[1].dataType).alias(
                bands_schema.names[1]
            ),
            F.pmod(F.col("id") * 2654435761, F.lit(2**31 - 1)).cast(
                bands_schema[2].dataType
            ).alias(bands_schema.names[2]),
        )
        idx.minhash_bands.append(
            junk_bands, counters={"wave": 6, "n_docs": committed + n_junk}
        )
        existing = eng.dup_pairs.read()
        pair_cols = (
            existing.schema.names
            if existing is not None
            else ["wave", "new_id", "orig_id", "jaccard"]
        )
        junk_pairs = spark.range(200).select(
            F.lit(6).cast("int").alias("wave"),
            F.concat(F.lit("torn-doc-"), F.col("id").cast("string")).alias("new_id"),
            F.concat(F.lit("torn-orig-"), F.col("id").cast("string")).alias("orig_id"),
            F.lit(1.0).alias("jaccard"),
        )
        eng.dup_pairs.append(junk_pairs.select(*pair_cols), counters={"wave": 6})
        print(json.dumps({"phase": "torn_wave_forged", "junk_band_docs": n_junk}),
              flush=True)

        # resume: rollback the torn index + pair appends, verify counters
        eng2 = FrontierEngine(spark, tmp, CrawlConfig(**base, max_waves=8))
        with InRun() as m_res:
            start = eng2.resume()
        idx2 = eng2.dedup_index()
        rewound = int(idx2.minhash_bands.current_snapshot().counters["n_docs"])
        assert start == 5, start
        assert rewound == committed, (rewound, committed)
        print(json.dumps({"phase": "resume_rewind", "wall_sec": round(m_res.wall, 1),
                          "sys_frac": m_res.sys_frac, "resumed_at_wave": start,
                          "index_docs_rewound_to": rewound}), flush=True)

        # finish waves 6-8 and compare against the uninterrupted oracle
        with InRun() as m_fin:
            eng2.run(seeds=None)
        got = pair_set(eng2)
        ok = got == ref_pairs and not any("torn" in p[1] for p in got)
        print(json.dumps({"phase": "finish_6_to_8", "wall_sec": round(m_fin.wall, 1),
                          "sys_frac": m_fin.sys_frac, "dup_pairs": len(got)}),
              flush=True)
        print(json.dumps({
            "summary": {
                "pairs_equal_uninterrupted": ok,
                "resume_rewind_sec": round(m_res.wall, 1),
                "reference_wall_sec": round(m_ref.wall, 1),
                "interrupted_total_sec": round(m_pre.wall + m_res.wall + m_fin.wall, 1),
                "worst_sys_frac": max(m_ref.sys_frac, m_pre.sys_frac,
                                      m_res.sys_frac, m_fin.sys_frac),
            }
        }))
        assert ok, "resumed dup pairs diverged from the uninterrupted run"
    spark.stop()


if __name__ == "__main__":
    main()

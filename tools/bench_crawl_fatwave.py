"""Content-dedup integration cost vs wave size (VERDICT r05 #3).

The r05 A/B measured the per-wave match-then-ingest at ~5 s/wave on the
bench graph's ~27k-doc waves — a FIXED stage chain (probe join,
broadcast count, verify, distinct, ingest append) that read as −38%
urls/s AT THAT WAVE SIZE. The amortization claim ("at production fat
waves the fixed cost shrinks toward the signature pass's ∝-bytes
floor") was argued, not exercised. This tool exercises it: the same
graph family at 1× / 2× / 4× hosts (same depth profile, so docs/wave
scales with the graph), each crawled with content_dedup off and on,
every leg stamped with the IN-RUN /proc/stat sys share (the r05 scaling
gate's measurement — instant controls miss mid-run windows).

Expected shape: the absolute dedup overhead per wave grows ∝ wave bytes
only through the signature pass, so overhead/wall falls as waves fatten;
the ≤15% target at the largest size is the acceptance line VERDICT set.

Usage: python tools/bench_crawl_fatwave.py [--quick] [--scales=1,2,4]
                                           [--latency=MS] [--tiers [--waves=N]]
`--latency` runs both legs under the engine's async-pool fetch model
(2048 concurrent request slots, MS per request) — the politeness-bound
wall a production crawler actually runs at; the default 0 is the
instant-fetch worst case. `--tiers` instead crawls each scale twice with
content dedup on, every wave forced onto one ``run_wave`` tier (driver,
then Spark), and reports per-wave walls against the rows the tier
decision counts (the pending frontier plus the files the resident
indexes do not cover yet), the Spark jobs each wave ran, and the bytes
those indexes hold after the wave: the DRIVER_WAVE_ROW_BUDGET crossover
and the RESIDENT_INDEX_BYTES footprint (``--waves``: stop each leg after N waves, default 8). Writes
one JSON line per leg + a final summary JSON line; healthy-box evidence
for BENCH.md's tables.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fatwave_spec(scale: int):
    from crawl4ai_llm_spark.frontier import webgraph as wg

    # same family as bench.py's crawl_throughput graph; hosts (and seeds)
    # scale together so the BFS depth profile — and therefore the wave
    # COUNT — stays put while every wave fattens ∝ scale
    return wg.GraphSpec(
        n_hosts=300 * scale,
        pages_per_host=700,
        hot_factor=30,
        max_links=12,
        # the default 16-word vocab makes organic near-dup PAIRS grow ∝
        # hosts² (measured 6.9k→107k from 1×→4×), drowning the fixed-cost
        # amortization this tool exists to measure — large vocab kills the
        # accidental collisions; near_dup_every=50 plants a LINEAR-in-corpus
        # dup rate (chain length 14/host) so the match path still does work
        vocab=65536,
        near_dup_every=50,
        seed="bench-42",
    )


def run_leg(spark, scale: int, dedup_on: bool, latency_ms: float = 0.0) -> dict:
    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine
    from tools.boxstate import InRun

    spec = fatwave_spec(scale)
    cfg = CrawlConfig(
        wave_seconds=3600.0,
        max_depth=5,
        max_waves=8,
        graph=spec,
        content_dedup=dedup_on,
        content_dedup_policy="flag",
        # --latency mode: the engine's async-pool fetch model (each Arrow
        # batch sleeps len*latency/async_concurrency) — the
        # politeness-bound wall a production crawler actually runs at,
        # vs the instant-fetch worst case at the default 0
        fetch_latency_ms=latency_ms,
    )
    with tempfile.TemporaryDirectory() as tmp:
        eng = FrontierEngine(spark, tmp, cfg)
        with InRun() as box:
            waves = eng.run(seeds=wg.seed_urls(spec, n_seeds=1000 * scale))
        wall = box.wall
        n_urls = eng.schedule.read().count()
        n_docs = eng.docs.read().count()
        n_pairs = (
            eng.dup_pairs.read().count()
            if dedup_on and not eng.dup_pairs.is_empty()
            else 0
        )
        # DIRECT phase attribution (engine.wave_marks): the dedup cost is
        # the serial match phase plus whatever it adds to the commit pool —
        # robust to the box-state variance that can swamp an off/on wall
        # subtraction (measured 2-5x run swings on this sandbox)
        match_wall = sum(m.get("content_dedup_match", 0.0) for m in eng.wave_marks.values())
        commit_wall = sum(
            m.get("table_commits+filter_delta", 0.0) for m in eng.wave_marks.values()
        )
    return {
        "scale": scale,
        "content_dedup": dedup_on,
        "fetch_latency_ms": latency_ms,
        "urls": n_urls,
        "docs": n_docs,
        "waves": waves,
        "docs_per_wave": round(n_docs / max(1, waves)),
        "wall_sec": round(wall, 1),
        "urls_per_sec": round(n_urls / wall, 1),
        "dup_pairs": n_pairs,
        "match_wall_sec": round(match_wall, 1),
        "match_ms_per_doc": round(1000 * match_wall / max(1, n_docs), 3),
        "commit_wall_sec": round(commit_wall, 1),
        "run_sys_frac": box.sys_frac,
    }


def _next_job_id(spark, first: int | None = None) -> int:
    """The id the next Spark job will get (the listener bus drained
    first), scanning from ``first`` or from the newest job the status
    tracker still reports."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    j = max(tracker.getJobIdsForGroup(None), default=-1) + 1 if first is None else first
    while tracker.getJobInfo(j) is not None:
        j += 1
    return j


def run_tier_leg(spark, scale: int, tier: str, max_waves: int = 8,
                 max_wave_s: float = 150.0) -> dict:
    """One content-dedup crawl of the scale's graph with every wave on one
    ``run_wave`` tier (``DRIVER_WAVE_ROW_BUDGET`` set past any size, or to
    0). Per wave: the rows the tier decision counts (``_rows_to_decode``,
    from parquet footers), the rows the frontier, seen and band tables
    hold (what the gate counted before the resident indexes), the
    scheduled URLs, the wall, the Spark jobs it ran and the resident
    index bytes after the wave. A leg stops after ``max_waves`` or a wave
    longer than ``max_wave_s``."""
    from crawl4ai_llm_spark.frontier import engine as eng_mod
    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

    spec = fatwave_spec(scale)
    cfg = CrawlConfig(wave_seconds=3600.0, max_depth=5, max_waves=max_waves, graph=spec,
                      content_dedup=True, content_dedup_policy="flag")
    budget = eng_mod.DRIVER_WAVE_ROW_BUDGET
    eng_mod.DRIVER_WAVE_ROW_BUDGET = 10**15 if tier == "driver" else 0
    waves = []
    try:
        with tempfile.TemporaryDirectory() as tmp:
            eng = FrontierEngine(spark, tmp, cfg)
            eng.init_seeds(wg.seed_urls(spec, n_seeds=1000 * scale))
            bands = eng.dedup_index().minhash_bands
            for w in range(1, cfg.max_waves + 1):
                snaps = {t: t.current_snapshot() for t in (eng.frontier, eng.seen, eng.docs, bands)}
                rows = eng._rows_to_decode(snaps)[1]
                held = sum(eng._live_rows(t) for t in (eng.frontier, eng.seen, bands))
                first_job = _next_job_id(spark)
                t0 = time.time()
                stats = eng.run_wave(w)
                wall = time.time() - t0
                if not stats.get("scheduled"):
                    break
                waves.append({"wave": w, "rows": rows, "held_rows": held,
                              "scheduled": stats["scheduled"], "wall_sec": round(wall, 2),
                              "jobs": _next_job_id(spark, first_job) - first_job,
                              "resident_bytes": eng.resident_index_bytes()})
                if wall > max_wave_s:
                    break
            tiers = dict(eng.tiers)
    finally:
        eng_mod.DRIVER_WAVE_ROW_BUDGET = budget
    return {"scale": scale, "tier": tier, "tiers": tiers, "waves": waves}


def tiers_main(spark, scales: list[int], max_waves: int) -> None:
    """``--tiers``: the driver/Spark tier crossover, in the rows a wave's
    tier decision counts. Prints each leg, then per scale and wave both
    tiers' walls, the driver leg's resident index bytes, and the smallest
    row count at which the Spark tier won."""
    rows = []
    for scale in scales:
        legs = {}
        for tier in ("driver", "spark"):
            legs[tier] = run_tier_leg(spark, scale, tier, max_waves)
            print(json.dumps(legs[tier]), flush=True)
        for d, s in zip(legs["driver"]["waves"], legs["spark"]["waves"]):
            rows.append({"scale": scale, "wave": d["wave"], "rows": d["rows"],
                         "held_rows": d["held_rows"], "scheduled": d["scheduled"],
                         "driver_sec": d["wall_sec"], "spark_sec": s["wall_sec"],
                         "spark_jobs": s["jobs"], "resident_bytes": d["resident_bytes"]})
    spark_wins = [r["rows"] for r in rows if r["spark_sec"] < r["driver_sec"]]
    print(json.dumps({"summary": rows,
                      "crossover_rows": min(spark_wins) if spark_wins else None}))


def main() -> None:
    from crawl4ai_llm_spark.session import get_spark

    scales = [1, 2, 4]
    latency_ms = 0.0
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        if a.startswith("--latency"):
            latency_ms = float(a.split("=", 1)[1])
    if "--quick" in sys.argv:
        scales = [1]
    import bench  # repo-root bench.py: the fixed-work hardware-state anchor

    def wait_healthy(limit_min: float = 20.0) -> dict:
        """Poll the fixed-work anchor until the box leaves its degraded
        kernel-time state (sys share < 0.25; windows of 0.5-0.9 come and
        go on ~10-min scales on this sandbox, independent of our load).
        Gives up after limit_min and stamps the leg with what it saw."""
        t0 = time.time()
        while True:
            ctl = bench.cpu_state_control()
            if ctl["allcore_sys_frac"] < 0.25 or time.time() - t0 > limit_min * 60:
                return ctl
            print(
                f"# box degraded (allcore_sys_frac={ctl['allcore_sys_frac']}), waiting",
                flush=True,
            )
            time.sleep(45)

    spark = get_spark(app_name="bench_crawl_fatwave")
    if "--tiers" in sys.argv:
        waves = [int(a.split("=", 1)[1]) for a in sys.argv if a.startswith("--waves=")]
        tiers_main(spark, scales, waves[-1] if waves else 8)
        spark.stop()
        return
    bench.cpu_state_control()  # throwaway: the first control in a fresh
    # process reads degraded while the JVM warms (measured 0.95 → 0.01)
    # JVM/JIT warm-up crawl, unrecorded: the first leg of a fresh JVM
    # otherwise runs ~30% slow (measured 86 s vs 58 s for the identical
    # scale-1 off leg), which biases the first A/B pair
    from crawl4ai_llm_spark.frontier import webgraph as _wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig as _CC
    from crawl4ai_llm_spark.frontier.engine import FrontierEngine as _FE

    _spec = _wg.GraphSpec(n_hosts=40, pages_per_host=200, seed="warmup")
    with tempfile.TemporaryDirectory() as _tmp:
        _FE(spark, _tmp, _CC(wave_seconds=3600.0, max_depth=3, max_waves=4,
                             graph=_spec, content_dedup=True,
                             content_dedup_policy="flag")).run(
            seeds=_wg.seed_urls(_spec, n_seeds=40))
    rows = []
    for scale in scales:
        legs = {}
        for dedup_on in (False, True):
            # fixed-work control BEFORE the leg: the leg's own in-run sys
            # share is workload-colored (dedup waves intrinsically run
            # ~0.3), so degradation is judged from this anchor instead
            ctl = wait_healthy()
            r = run_leg(spark, scale, dedup_on, latency_ms=latency_ms)
            r["pre_leg_allcore_sys_frac"] = ctl["allcore_sys_frac"]
            r["pre_leg_allcore_sec"] = ctl["allcore_sec"]
            legs[dedup_on] = r
            print(json.dumps(r), flush=True)
        off, on = legs[False], legs[True]
        overhead_sec = on["wall_sec"] - off["wall_sec"]
        rows.append(
            {
                "scale": scale,
                "docs_per_wave": on["docs_per_wave"],
                "off_urls_per_sec": off["urls_per_sec"],
                "on_urls_per_sec": on["urls_per_sec"],
                "overhead_sec": round(overhead_sec, 1),
                "overhead_per_wave_sec": round(overhead_sec / max(1, on["waves"]), 2),
                "throughput_cost_pct": round(
                    100 * (1 - on["urls_per_sec"] / off["urls_per_sec"]), 1
                ),
                # direct attribution: serial match phase + commit-pool delta
                # (off-leg commit wall as the baseline) — the A/B columns
                # above inherit BOTH legs' box noise; these inherit only the
                # on-leg's
                "match_wall_sec": on["match_wall_sec"],
                "match_ms_per_doc": on["match_ms_per_doc"],
                "commit_delta_sec": round(
                    on["commit_wall_sec"] - off["commit_wall_sec"], 1
                ),
                "direct_cost_pct": round(
                    100
                    * (on["match_wall_sec"] + on["commit_wall_sec"] - off["commit_wall_sec"])
                    / max(0.1, on["wall_sec"]),
                    1,
                ),
                "dup_pairs": on["dup_pairs"],
                "worst_sys_frac": max(off["run_sys_frac"], on["run_sys_frac"]),
                "worst_pre_leg_ctl": max(
                    off["pre_leg_allcore_sys_frac"], on["pre_leg_allcore_sys_frac"]
                ),
            }
        )
    print(json.dumps({"summary": rows}))
    spark.stop()


if __name__ == "__main__":
    main()

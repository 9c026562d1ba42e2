"""``crawl`` workload: frontier waves run back to back on a seeded web graph.

One client, closed loop: each ``run_wave`` call starts when the previous one
returns. The graph is wide enough that every wave schedules each host's full
politeness budget, so waves do near-equal work and the measured window can
end after any wave. Content near-dup detection runs inside every wave
(``content_dedup=True``, policy ``flag``) over planted near-duplicates; the
seen-set tier is the default broadcast Bloom filter and fetch is instant.
"""

from __future__ import annotations

import os
import statistics
import time

from tracer import catalog_metrics, cpu_seconds

GRAPH = {"n_hosts": 40, "pages_per_host": 300, "hot_factor": 20, "vocab": 65536, "near_dup_every": 50}
WAVE_SECONDS = 16.0  # per-host budget: 16 URLs a wave, 8 on crawl-delay-2 hosts
MAX_DEPTH = 5
N_SEEDS = 1000  # about 25 a host, above any host's wave budget
# run_wave's wave_marks phases, by per-layer metric name
PHASES = {
    "wave.fetch_s": "fetch+lineage",
    "wave.probe_s": "probed_count",
    "wave.new_links_s": "new_links_count",
    "wave.dedup_match_s": "content_dedup_match",
    "wave.commit_s": "table_commits+filter_delta",
}
TABLES = ("docs_spans", "seen", "schedule", "minhash_bands")


class Crawl:
    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from crawl4ai_llm_spark.frontier import webgraph as wg
        from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

        self.spark, self.tracer, self.run_dir, self.seed = spark, tracer, run_dir, seed
        self.spec = wg.GraphSpec(**GRAPH, seed=f"perfbench-{seed}")
        self.seeds = wg.seed_urls(self.spec, n_seeds=N_SEEDS)
        cfg = CrawlConfig(
            wave_seconds=WAVE_SECONDS,
            max_depth=MAX_DEPTH,
            graph=self.spec,
            content_dedup=True,
            content_dedup_policy="flag",
        )
        self.engine = FrontierEngine(spark, os.path.join(run_dir, "crawl"), cfg)
        self.waves: list[dict] = []  # every wave run: span + stats
        self.measured = 0  # the first this many waves are the measured ones
        self.suite = None  # Suite, probed in traced runs

    def setup(self) -> None:
        """Seed the frontier. This is also the run's warm-up: it starts the
        Python workers and runs the graph code the waves use. No wave runs
        unrecorded (a cold wave costs as much as the measured window); the
        seed list fills every host's wave-1 budget, so wave 1 schedules a
        full wave."""
        with self.tracer.span("crawl.init_seeds"):
            self.engine.init_seeds(self.seeds)

    def _wave(self, name: str) -> dict:
        wave = len(self.waves) + 1
        with self.tracer.span(name, wave=wave) as sp:
            stats = self.engine.run_wave(wave)
        if not stats.get("scheduled"):
            raise RuntimeError(f"frontier ran dry at wave {wave}; the graph is too small")
        rec = {"wave": wave, "span": sp, "stats": stats}
        self.waves.append(rec)
        return rec

    def measure(self, seconds: float) -> None:
        """Waves back to back; a wave starts only if it fits in ``seconds``
        by the last wave's time (the first always runs)."""
        t0, cpu0 = time.perf_counter(), cpu_seconds()
        last = 0.0
        while not self.measured or time.perf_counter() - t0 + last <= seconds:
            last = self._wave("frontier.run_wave")["span"]["s"]
            self.measured += 1
        self.cpu_s = cpu_seconds() - cpu0

    def probe(self, deadline: float) -> int:
        """Traced runs only. First one more wave, checked like the measured
        ones: wave 1 matches its pages against an empty near-dup index, so
        the ``wave.*`` figures come from this later wave. Then the
        ``suite`` workload's set-up, headline queries and incremental
        matches in this session (``suite.py``), none started after
        ``deadline``. Returns the number of wrong results."""
        from suite import Suite

        first = len(self.waves) + 1
        self._wave("probe.run_wave")
        wrong = self.check(since=first)
        self.suite = Suite(self.spark, self.tracer, self.run_dir, self.seed)
        with self.tracer.span("probe.suite.setup"):
            self.suite.setup()
        self.suite.run_queries(deadline)
        return wrong + self.suite.check() + self.suite.probe(deadline)

    @property
    def attempted(self) -> int:
        return len(self.waves) + (self.suite.attempted if self.suite else 0)

    def check(self, since: int = 1) -> int:
        """Number of waves from wave ``since`` on whose output disagrees
        with the pure-Python reference crawl of the same graph and seeds."""
        import oracle_crawler

        last = self.waves[-1]["wave"]
        ref = oracle_crawler.simulate(
            self.spec, self.seeds, wave_seconds=WAVE_SECONDS, max_depth=MAX_DEPTH, max_waves=last
        )
        seen = {r.url for r in self.engine.seen.read().select("url").collect()}
        if seen != ref.seen:
            return last - since + 1
        sched = self.engine.schedule.read().groupBy("wave").count().collect()
        got = {r["wave"]: r["count"] for r in sched}
        want: dict[int, int] = {}
        for (_, w), urls in ref.host_order.items():
            want[w] = want.get(w, 0) + len(urls)
        fetched: dict[int, int] = {}
        for w in ref.fetch_wave_of.values():
            fetched[w] = fetched.get(w, 0) + 1
        return sum(
            1
            for m in self.waves[since - 1 :]
            if got.get(m["wave"]) != want.get(m["wave"])
            or m["stats"].get("fetched") != fetched.get(m["wave"])
        )

    def end_to_end(self) -> dict[str, float]:
        waves = self.waves[: self.measured]
        urls = sum(m["stats"]["scheduled"] for m in waves)
        return {
            "items_per_s": urls / sum(m["span"]["s"] for m in waves),
            "cpu_s_per_item": self.cpu_s / urls,
        }

    def per_layer(self) -> dict[str, float]:
        """Traced runs only: ``wave.*`` from the probe's wave, counts over
        every wave run."""
        later = self.waves[self.measured :]
        marks = [self.engine.wave_marks.get(m["wave"], {}) for m in later]
        out = {k: statistics.median(mk.get(p, 0.0) for mk in marks) for k, p in PHASES.items()}
        spans = [m["span"] for m in later]
        out["wave.s_p50"] = statistics.median(s["s"] for s in spans)
        out["wave.jobs"] = statistics.median(s["jobs"] for s in spans)
        out["wave.tasks"] = statistics.median(s["tasks"] for s in spans)
        stats = [m["stats"] for m in self.waves]
        scheduled = sum(s["scheduled"] for s in stats)
        fetched = sum(s["fetched"] for s in stats)
        out.update(
            {
                "crawl.urls_scheduled": scheduled,
                "crawl.urls_fetched": fetched,
                "crawl.fetch_ok_frac": fetched / scheduled,
                "crawl.waves": len(stats),
                "crawl.dup_pairs": sum(s.get("content_dups", 0) for s in stats),
                "crawl.init_s": next(s["s"] for s in self.tracer.spans if s["name"] == "crawl.init_seeds"),
            }
        )
        eng = self.engine
        tables = dict(zip(TABLES, (eng.docs, eng.seen, eng.schedule, eng.dedup_index().minhash_bands)))
        out.update(catalog_metrics(tables))
        if self.suite:
            # index.* and match.* are the suite index's; catalog.* stay the crawl's
            out.update({k: v for k, v in self.suite.per_layer().items() if not k.startswith("catalog.")})
        return out


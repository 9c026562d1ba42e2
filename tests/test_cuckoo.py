"""Compaction and evict/recrawl on small crawls of the ``ck-42`` graph.

The module is named for the cuckoo seen filter its first tests covered.
The filter is gone (the seen check is the exact anti-join on the Spark
tier and the resident seen index on the driver tier); these two engine
tests remain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier import engine as eng_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

SPEC = wg.GraphSpec(n_hosts=8, pages_per_host=25, hot_factor=5, max_links=8, seed="ck-42")
SEEDS = wg.seed_urls(SPEC, n_seeds=10)


def test_compaction_preserves_state(spark, tmp_path):
    """Auto-compaction every 2 waves must not change any table's contents
    (same seen set / docs / schedule as the uncompacted run) and must cut
    the file count."""
    def run(wh, compact_every):
        eng = FrontierEngine(
            spark,
            wh,
            CrawlConfig(
                wave_seconds=16.0, max_depth=3, max_waves=40,
                compact_every=compact_every, graph=SPEC,
            ),
        )
        eng.run(seeds=SEEDS)
        return eng

    a = run(str(tmp_path / "nocompact"), 0)
    b = run(str(tmp_path / "compact"), 2)
    for tbl in ("seen", "docs", "schedule"):
        ta, tb = getattr(a, tbl), getattr(b, tbl)
        ca = sorted(map(tuple, ta.read().collect()))
        cb = sorted(map(tuple, tb.read().collect()))
        assert ca == cb, f"{tbl} diverged under compaction"
    assert len(b.seen.current_snapshot().files) < len(a.seen.current_snapshot().files)


def test_evict_and_recrawl(spark, tmp_path, monkeypatch):
    """evict_from_seen + enqueue on the Spark tier (the row budget patched
    to 0): the evicted URLs leave the seen table and the next wave
    recrawls exactly them."""
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
    eng = FrontierEngine(
        spark,
        str(tmp_path / "ev_wh"),
        CrawlConfig(wave_seconds=16.0, max_depth=3, max_waves=40, graph=SPEC),
    )
    eng.run(seeds=SEEDS)
    fetched = [r["doc_id"] for r in eng.docs.read().select("doc_id").limit(3).collect()]
    n_docs_before = eng.docs.read().count()

    assert eng.evict_from_seen(fetched) == len(fetched)
    seen_urls = {r["url"] for r in eng.seen.read().select("url").collect()}
    assert not (set(fetched) & seen_urls)

    assert eng.enqueue(fetched) == len(fetched)
    last = eng.last_committed_wave()
    eng.run_wave(last + 1)
    sched = {
        r["url"]
        for r in eng.schedule.read().where(F.col("wave") == last + 1).select("url").collect()
    }
    assert set(fetched) <= sched  # recrawled exactly the evicted urls
    assert eng.docs.read().count() >= n_docs_before  # re-fetched docs appended
    assert set(eng.tiers) == {"spark:rows"}

"""North-rule parity tests: Spark frontier engine vs pure-Python oracle.

Criteria (SURVEY.md §8.2 / BASELINE.json north_rule):
  (a) exact final URL-seen set equality
  (b) wave-level ordering equality (every URL's first-schedule wave)
  (c) per-host in-wave order equality
  (d) per-row span-sequence equality (kind, text, media_ref, order)
  (e) kill/resume: a crashed-and-resumed crawl equals an uninterrupted one
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier import engine as eng_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

from tests.oracle_crawler import simulate

SPEC = wg.GraphSpec(n_hosts=12, pages_per_host=30, hot_factor=8, max_links=10, seed="test-42")
CFG = dict(delay=1.0, wave_seconds=16.0, max_retries=3, max_depth=4, max_waves=60)
SEEDS = wg.seed_urls(SPEC, n_seeds=15)


@pytest.fixture(scope="module")
def oracle():
    return simulate(SPEC, SEEDS, **{k: v for k, v in CFG.items()})


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("crawl_wh"))
    eng = FrontierEngine(
        spark,
        wh,
        CrawlConfig(
            delay=CFG["delay"],
            wave_seconds=CFG["wave_seconds"],
            max_retries=CFG["max_retries"],
            max_depth=CFG["max_depth"],
            max_waves=CFG["max_waves"],
            graph=SPEC,
        ),
    )
    eng.run(seeds=SEEDS)
    return eng


def test_seen_set_equality(engine_run, oracle):
    got = {r["url"] for r in engine_run.seen.read().select("url").collect()}
    assert got == oracle.seen


def test_wave_assignment_equality(engine_run, oracle):
    sched = (
        engine_run.schedule.read()
        .groupBy("url")
        .agg(F.min("wave").alias("wave"))
        .collect()
    )
    got = {r["url"]: r["wave"] for r in sched}
    assert got == oracle.wave_of


def test_per_host_in_wave_order(engine_run, oracle):
    rows = engine_run.schedule.read().select("host", "wave", "host_rank", "url").collect()
    got: dict[tuple[str, int], list[tuple[int, str]]] = {}
    for r in rows:
        got.setdefault((r["host"], r["wave"]), []).append((r["host_rank"], r["url"]))
    got_order = {k: [u for _, u in sorted(v)] for k, v in got.items()}
    oracle_order = {k: v for k, v in oracle.host_order.items() if v}
    assert got_order == oracle_order


def test_span_sequence_equality(engine_run, oracle):
    rows = engine_run.docs.read().select("doc_id", "spans").collect()
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }
    want = {
        u: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for u, spans in oracle.spans.items()
    }
    assert got == want


def test_fetch_and_seen_counts(engine_run, oracle):
    assert engine_run.docs.read().count() == len(oracle.fetched)
    assert engine_run.seen.read().count() == len(oracle.seen)


def test_checkpoint_lineage_totals(engine_run, oracle):
    cp = engine_run.checkpoints.read()
    total_sched = cp.agg(F.sum("urls_scheduled")).collect()[0][0]
    # every schedule-log row is covered by per-partition lineage counters
    assert total_sched == engine_run.schedule.read().count()


def test_resume_equals_uninterrupted(spark, tmp_path, oracle):
    wh = str(tmp_path / "resume_wh")
    cfg = CrawlConfig(
        delay=CFG["delay"],
        wave_seconds=CFG["wave_seconds"],
        max_retries=CFG["max_retries"],
        max_depth=CFG["max_depth"],
        max_waves=3,
        graph=SPEC,
    )
    eng = FrontierEngine(spark, wh, cfg)
    eng.run(seeds=SEEDS)  # stops after wave 3 — the "crash"

    # simulate a torn wave: docs got an uncommitted wave-4 append, the
    # checkpoint never landed
    junk = spark.createDataFrame([("junk", [], 4)], eng.docs.read().schema)
    eng.docs.append(junk, counters={"wave": 4})

    cfg2 = CrawlConfig(**{**cfg.__dict__, "max_waves": CFG["max_waves"]})
    eng2 = FrontierEngine(spark, wh, cfg2)
    assert eng2.resume() == 3  # rolls docs back to wave 3
    eng2.run(seeds=None, max_waves=CFG["max_waves"])

    got_seen = {r["url"] for r in eng2.seen.read().select("url").collect()}
    assert got_seen == oracle.seen
    got_waves = {
        r["url"]: r["wave"]
        for r in eng2.schedule.read().groupBy("url").agg(F.min("wave").alias("wave")).collect()
    }
    assert got_waves == oracle.wave_of
    assert "junk" not in {r["doc_id"] for r in eng2.docs.read().select("doc_id").collect()}


def test_resume_backfills_legacy_docs_wave_column(spark, tmp_path):
    """A warehouse written before docs carried the row-level ``wave``
    column (pre-r06) must resume: the column is backfilled with the
    committed wave (exact for the legacy case — no recrawl history, one
    row per doc_id) and subsequent wave appends schema-match."""
    wh = str(tmp_path / "legacy_wh")
    cfg = CrawlConfig(
        delay=CFG["delay"], wave_seconds=CFG["wave_seconds"],
        max_retries=CFG["max_retries"], max_depth=CFG["max_depth"],
        max_waves=2, graph=SPEC,
    )
    eng = FrontierEngine(spark, wh, cfg)
    eng.run(seeds=SEEDS)
    committed = eng.last_committed_wave()
    # forge the legacy layout: same rows, no wave column
    legacy = eng.docs.read().drop("wave")
    eng.docs.overwrite(legacy, counters={"wave": committed})

    eng2 = FrontierEngine(spark, wh, CrawlConfig(**{**cfg.__dict__, "max_waves": 4}))
    assert eng2.resume() == committed
    migrated = eng2.docs.read()
    assert "wave" in migrated.columns
    assert migrated.where(F.col("wave") != committed).count() == 0
    # the resumed crawl appends cleanly against the migrated schema
    eng2.run(seeds=None, max_waves=4)
    assert eng2.docs.read().where(F.col("wave") > committed).count() > 0


def test_resume_survives_torn_manifest_tmp(spark, tmp_path, oracle):
    """A crash BETWEEN the manifest tmp-write and its atomic rename leaves a
    snap-N.json.tmp-<uuid> file in meta/. snapshots() must ignore it (it was
    never published) and resume() must sweep it — this is exactly the crash
    window the manifest log exists to survive."""
    import os

    wh = str(tmp_path / "torn_wh")
    cfg = CrawlConfig(
        delay=CFG["delay"],
        wave_seconds=CFG["wave_seconds"],
        max_retries=CFG["max_retries"],
        max_depth=CFG["max_depth"],
        max_waves=2,
        graph=SPEC,
    )
    eng = FrontierEngine(spark, wh, cfg)
    eng.run(seeds=SEEDS)

    # forge the torn tmp file a kill-during-_publish would leave behind
    torn = os.path.join(eng.docs.meta_dir, "snap-99.json.tmp-deadbeef")
    with open(torn, "w") as f:
        f.write("{ partial")

    eng2 = FrontierEngine(spark, wh, cfg)
    assert [s.snapshot_id for s in eng2.docs.snapshots()]  # parses fine
    assert eng2.resume() == 2
    assert not os.path.exists(torn)  # swept
    # crawl continues normally after the torn-manifest recovery
    eng2.run(seeds=None, max_waves=CFG["max_waves"])
    got_seen = {r["url"] for r in eng2.seen.read().select("url").collect()}
    assert got_seen == oracle.seen


def _run_waves(eng, first: int, last: int | None = None) -> list[str]:
    """Run waves ``first``.. until ``last`` or one schedules nothing;
    each wave's tier."""
    log, wave = [], first
    while last is None or wave <= last:
        before = eng.tiers.copy()
        out = eng.run_wave(wave)
        (tier,) = eng.tiers - before
        log.append(tier)
        if not out.get("scheduled"):
            break
        wave += 1
    return log


def _assert_seen_and_waves(eng, oracle) -> None:
    assert {r["url"] for r in eng.seen.read().select("url").collect()} == oracle.seen
    got_waves = {
        r["url"]: r["wave"]
        for r in eng.schedule.read().groupBy("url").agg(F.min("wave").alias("wave")).collect()
    }
    assert got_waves == oracle.wave_of


def test_partitioned_bloom_engine_matches_oracle(spark, tmp_path, monkeypatch, oracle):
    """Every wave on the Spark tier (the row budget patched to 0), where
    the exact anti-join is the seen check: a "crash" after wave 3 and a
    resume, and the crawl still equals the oracle. (Named for the
    partitioned Bloom transport that once kept this crawl off the driver.)"""
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
    wh = str(tmp_path / "spark_resume_wh")
    cfg = CrawlConfig(
        delay=CFG["delay"],
        wave_seconds=CFG["wave_seconds"],
        max_retries=CFG["max_retries"],
        max_depth=CFG["max_depth"],
        max_waves=3,
        graph=SPEC,
    )
    eng = FrontierEngine(spark, wh, cfg)
    eng.run(seeds=SEEDS)  # "crash" after wave 3
    eng2 = FrontierEngine(spark, wh, CrawlConfig(**{**cfg.__dict__, "max_waves": CFG["max_waves"]}))
    assert eng2.resume() == 3
    eng2.run(seeds=None, max_waves=CFG["max_waves"])
    _assert_seen_and_waves(eng2, oracle)
    assert set(eng.tiers) == set(eng2.tiers) == {"spark:rows"}


def test_auto_transport_switches_mid_run_with_parity(spark, tmp_path, monkeypatch, oracle):
    """Whether a wave's rows go through the driver or the executors is the
    engine's choice per wave, not a setting. Under a row budget that the
    seeds fit and the grown seen set does not, the crawl STARTS on the
    driver tier and SWITCHES one-way to the Spark tier: a Spark wave's seen
    rows are not in the resident index, so every later wave has more rows
    to decode than the budget. A "crash" after wave 3 and a resume keep
    the switch, and the crawl still equals the oracle."""
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 100)
    wh = str(tmp_path / "auto_wh")
    cfg = CrawlConfig(
        delay=CFG["delay"],
        wave_seconds=CFG["wave_seconds"],
        max_retries=CFG["max_retries"],
        max_depth=CFG["max_depth"],
        max_waves=CFG["max_waves"],
        graph=SPEC,
    )
    eng = FrontierEngine(spark, wh, cfg)
    eng.init_seeds(SEEDS)
    log = _run_waves(eng, 1, 3)
    assert log[0] == "driver"
    assert "spark:rows" in log, log
    sw = log.index("spark:rows")
    assert all(t == "spark:rows" for t in log[sw:]), "switch must be one-way"
    eng2 = FrontierEngine(spark, wh, cfg)
    assert eng2.resume() == 3
    assert set(_run_waves(eng2, 4)) == {"spark:rows"}
    _assert_seen_and_waves(eng2, oracle)

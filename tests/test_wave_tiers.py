"""The two tiers of ``FrontierEngine.run_wave``: the driver tier (pyarrow,
numpy and Python in one process, no Spark job) and the Spark tier.

The driver tier runs with the default ``DRIVER_WAVE_ROW_BUDGET`` on these
graphs; patching the budget to 0 sends every wave to the Spark tier. Both
tiers must match the pure-Python oracle, write the same rows, counters and
schemas, and hand over to each other mid-crawl, and every reason the
driver tier declines a wave must reach the Spark tier.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier import engine as eng_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine
from crawl4ai_llm_spark.operators import dedup
from crawl4ai_llm_spark.operators import dedup_store as ds

from tests.oracle_crawler import simulate
from tests.test_crawl_dedup import HI_J, TAU, expected_pairs

SPEC = wg.GraphSpec(
    n_hosts=8, pages_per_host=40, hot_factor=4, max_links=8,
    seed="dup-graph-7", near_dup_every=4,
)
CFG = dict(delay=1.0, wave_seconds=16.0, max_retries=3, max_depth=4, max_waves=40)
SEEDS = wg.seed_urls(SPEC, n_seeds=10)
TIERS = ("driver", "spark")


def _engine(spark, path, **kw) -> FrontierEngine:
    cfg = {**CFG, "graph": SPEC, "content_dedup": True, "content_dedup_tau": TAU, **kw}
    return FrontierEngine(spark, str(path), CrawlConfig(**cfg))


def _crawl(eng, tier: str, seeds=SEEDS, max_waves=None) -> int:
    with pytest.MonkeyPatch.context() as mp:
        if tier == "spark":
            mp.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
        return eng.run(seeds=seeds, max_waves=max_waves)


@pytest.fixture(scope="module")
def oracle():
    return simulate(SPEC, SEEDS, **CFG)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """(tier, policy) → a full crawl of SPEC, built on first use."""
    cache: dict = {}

    def get(tier: str, policy: str):
        if (tier, policy) not in cache:
            eng = _engine(
                spark, tmp_path_factory.mktemp(f"{tier}_{policy}"), content_dedup_policy=policy
            )
            _crawl(eng, tier)
            cache[tier, policy] = eng
        return cache[tier, policy]

    return get


def _pairs(eng) -> dict:
    return {(r["new_id"], r["orig_id"]): r["jaccard"] for r in eng.dup_pairs.read().collect()}


def _assert_oracle_parity(eng, oracle, policy: str = "flag") -> None:
    """Criteria (a)-(d) of test_frontier plus the content-dedup contract of
    test_crawl_dedup."""
    seen = {r["url"] for r in eng.seen.read().select("url").collect()}
    assert seen == oracle.seen  # (a)
    sched = eng.schedule.read().collect()
    first: dict = {}
    for r in sched:
        first[r["url"]] = min(first.get(r["url"], r["wave"]), r["wave"])
    assert first == oracle.wave_of  # (b)
    order: dict = {}
    for r in sched:
        order.setdefault((r["host"], r["wave"]), []).append((r["host_rank"], r["url"]))
    got_order = {k: [u for _, u in sorted(v)] for k, v in order.items()}
    assert got_order == {k: v for k, v in oracle.host_order.items() if v}  # (c)
    pairs = _pairs(eng)
    want = expected_pairs(oracle)
    assert set(pairs) <= set(want)
    for k, j in pairs.items():
        assert abs(want[k] - j) < 1e-6
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.docs.read().collect()
    }
    skipped = {n for n, _ in pairs} if policy == "skip" else set()
    assert skipped or policy == "flag"
    assert set(docs) == oracle.fetched - skipped
    # matches point at indexed docs only, and skip indexes survivors only
    assert {o for _, o in pairs} <= set(docs)
    bands = eng.dedup_index().minhash_bands.read().select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in bands} <= set(docs)
    for u, spans in docs.items():  # (d)
        assert spans == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in oracle.spans[u]
        ]
    if policy == "flag":
        hi = {k for k, j in want.items() if j >= HI_J}
        assert hi <= set(pairs)
    for r in eng.dup_pairs.read().collect():
        assert r["wave"] == oracle.fetch_wave_of[r["new_id"]]
    snap = eng.dedup_index().minhash_bands.current_snapshot()
    assert int(snap.counters["n_docs"]) == len(docs)


@pytest.mark.parametrize("policy", ["flag", "skip"])
@pytest.mark.parametrize("tier", TIERS)
def test_oracle_parity(runs, oracle, tier, policy):
    eng = runs(tier, policy)
    assert set(eng.tiers) == {"driver" if tier == "driver" else "spark:rows"}
    _assert_oracle_parity(eng, oracle, policy)


def _table_rows(eng) -> dict:
    idx = eng.dedup_index()
    out = {}
    for name, tbl in (
        ("seen", eng.seen), ("docs_spans", eng.docs), ("schedule", eng.schedule),
        ("frontier_pending", eng.frontier), ("minhash_bands", idx.minhash_bands),
        ("content_dups", eng.dup_pairs),
    ):
        df = tbl.read()
        out[name] = sorted(map(repr, df.collect())) if df is not None else []
    cp = eng.checkpoints.read()
    out["checkpoint_totals"] = sorted(
        tuple(r)
        for r in cp.groupBy("wave").agg(
            F.sum("urls_scheduled"), F.sum("urls_fetched"), F.sum("urls_failed")
        ).collect()
    )
    return out


def _tables(eng) -> dict:
    idx = eng.dedup_index()
    return {
        "seen": eng.seen, "docs_spans": eng.docs, "schedule": eng.schedule,
        "frontier_pending": eng.frontier, "checkpoints": eng.checkpoints,
        "minhash_bands": idx.minhash_bands, "content_dups": eng.dup_pairs,
    }


@pytest.mark.parametrize("policy", ["flag", "skip"])
def test_tiers_write_equal_tables(runs, policy):
    """Same rows in every table (host_rank, the content_dups Jaccards and
    the band rows included), the same checkpoint totals per wave, the same
    snapshot counters and the same read schema, column order included."""
    drv, spk = runs("driver", policy), runs("spark", policy)
    got, want = _table_rows(drv), _table_rows(spk)
    for name in want:
        assert got[name] == want[name], name
    assert want["content_dups"] and want["minhash_bands"]
    for name, tbl in _tables(drv).items():
        other = _tables(spk)[name]
        counters = tbl.current_snapshot().counters
        assert counters == other.current_snapshot().counters, name
        assert tbl.read().schema == other.read().schema, name
        assert tbl.read().columns == other.read().columns, name


def _leaves(path: str) -> list:
    """Parquet leaf columns: path, physical and logical type, and the
    definition / repetition levels (nullability and list nesting)."""
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    return [
        (c.path, c.physical_type, str(c.logical_type), c.max_definition_level,
         c.max_repetition_level)
        for c in (schema.column(i) for i in range(len(schema)))
    ]


def test_driver_files_match_spark_files(runs):
    """Each driver-written file has the physical types and stamped row
    schema of the Spark tier's file for the same table."""
    import pyarrow.parquet as pq

    drv, spk = runs("driver", "flag"), runs("spark", "flag")
    for name in ("seen", "docs_spans", "schedule", "frontier_pending", "minhash_bands"):
        d_files = [f for f in _tables(drv)[name].current_snapshot().files if "part-0." in f]
        s_files = [f for f in _tables(spk)[name].current_snapshot().files if "part-0." not in f]
        assert d_files and s_files, name
        d, s = d_files[-1], s_files[-1]
        assert pq.ParquetFile(d).schema.to_arrow_schema().remove_metadata() == (
            pq.ParquetFile(s).schema.to_arrow_schema().remove_metadata()
        ), name
        assert _leaves(d) == _leaves(s), name
        stamp = _tables(drv)[name]._spark_row_schema(d)
        assert stamp is not None and stamp == _tables(spk)[name]._spark_row_schema(s), name


@pytest.mark.parametrize("first", TIERS)
def test_tier_switch_mid_run(spark, tmp_path, runs, oracle, first):
    """Waves alternate tiers (both directions, several times) and the crawl
    still matches the oracle and the single-tier crawl's pairs."""
    eng = _engine(spark, tmp_path)
    eng.init_seeds(SEEDS)
    wave, tiers = 0, [first, "spark" if first == "driver" else "driver"]
    while True:
        wave += 1
        with pytest.MonkeyPatch.context() as mp:
            if tiers[(wave - 1) // 2 % 2] == "spark":
                mp.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
            if not eng.run_wave(wave).get("scheduled"):
                break
    assert eng.tiers["driver"] >= 2 and eng.tiers["spark:rows"] >= 2
    _assert_oracle_parity(eng, oracle)
    assert _pairs(eng) == _pairs(runs("driver", "flag"))


def test_torn_driver_wave_resumes(spark, tmp_path, runs, oracle):
    """A driver-tier wave killed after its docs commit: resume() rewinds
    the torn tables and the resumed crawl equals an uninterrupted one."""
    eng = _engine(spark, tmp_path)
    eng.run(seeds=SEEDS, max_waves=2)

    def boom(*a, **kw):
        raise RuntimeError("killed mid-commit")

    eng.seen.append_arrow = boom
    with pytest.raises(RuntimeError):
        eng.run_wave(3)
    assert eng.docs.current_snapshot().counters["wave"] == 3  # torn
    eng2 = _engine(spark, tmp_path)
    assert eng2.resume() == 2
    eng2.run(seeds=None)
    assert set(eng2.tiers) == {"driver"}
    _assert_oracle_parity(eng2, oracle)
    assert _pairs(eng2) == _pairs(runs("driver", "flag"))
    n = eng2.docs.read().count()
    assert n == eng2.docs.read().select("doc_id").distinct().count() == len(oracle.fetched)


def test_exact_seen_filter_runs_on_driver(spark, tmp_path, oracle):
    eng = _engine(spark, tmp_path, content_dedup=False)
    eng.run(seeds=SEEDS)
    assert set(eng.tiers) == {"driver"}
    assert {r["url"] for r in eng.seen.read().collect()} == oracle.seen


@pytest.mark.parametrize(
    "kw,reason",
    [
        (dict(), "driver"),
        (dict(parse_work=0, fetch_latency_ms=0.0), "driver"),
        (dict(parse_work=1), "spark:fetch"),
        (dict(fetch_latency_ms=0.01), "spark:fetch"),
    ],
)
def test_decline_reason(spark, tmp_path, kw, reason):
    eng = _engine(spark, tmp_path, content_dedup=False, **kw)
    eng.init_seeds(SEEDS)
    eng.run_wave(1)
    assert eng.tiers == {reason: 1}


def test_decline_reason_rows(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path, content_dedup=False)
    eng.init_seeds(SEEDS)
    rows = eng._live_rows(eng.frontier) + eng._live_rows(eng.seen)
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", rows - 1)
    eng.run_wave(1)
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 10**9)
    eng.run_wave(2)
    assert eng.tiers == {"spark:rows": 1, "driver": 1}


def test_spark_wave_hands_its_bloom_to_driver_waves(spark, tmp_path, oracle):
    """A Spark-tier wave among driver waves hands its seen rows to the
    driver waves after it: they probe a resident seen index that covers
    what the Spark wave wrote, and the crawl equals the oracle. (Named for
    the Bloom filter the Spark wave once handed over; the seen check is
    exact on both tiers now.)"""
    eng = _engine(spark, tmp_path, content_dedup=False)
    eng.init_seeds(SEEDS)
    wave = 0
    while True:
        wave += 1
        with pytest.MonkeyPatch.context() as mp:
            if wave == 3:
                mp.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
            if not eng.run_wave(wave).get("scheduled"):
                break
    assert wave > 4
    assert eng.tiers == {"spark:rows": 1, "driver": wave - 1}
    seen = eng.seen.read().select("url_hash", "url").collect()
    assert {r["url"] for r in seen} == oracle.seen
    first: dict = {}
    for r in eng.schedule.read().collect():
        first[r["url"]] = min(first.get(r["url"], r["wave"]), r["wave"])
    assert first == oracle.wave_of
    index = eng._seen_index
    assert index.n_rows == len(seen)
    found = index.take(index.find([r["url_hash"] for r in seen])[0], "url")
    assert sorted(found) == sorted(r["url"] for r in seen)


@pytest.mark.parametrize(
    "module,gate",
    [
        (ds, "BROADCAST_BAND_ROW_BUDGET"),
        (eng_mod, "DRIVER_TEXT_READ_BYTE_BUDGET"),
        (ds, "DRIVER_MATCH_DOC_BUDGET"),
    ],
)
def test_dedup_gate_sends_wave_to_spark(spark, tmp_path, monkeypatch, runs, module, gate):
    """Each existing dedup gate patched to 0 still reaches the path it
    names: matching waves run on the Spark tier (``spark:dedup``; the
    match-doc gate trips mid-wave, after which the wave reruns there), and
    the pairs equal the driver-tier crawl's."""
    monkeypatch.setattr(module, gate, 0)
    eng = _engine(spark, tmp_path, max_waves=4)
    eng.run(seeds=SEEDS)
    assert eng.tiers["spark:dedup"] >= 1, eng.tiers
    assert set(eng.tiers) <= {"driver", "spark:dedup"}
    want = {k: j for k, j in _pairs(runs("driver", "flag")).items()}
    waves = {r["new_id"]: r["wave"] for r in runs("driver", "flag").dup_pairs.read().collect()}
    assert _pairs(eng) == {k: j for k, j in want.items() if waves[k[0]] <= 4}


def test_budget_floors_the_float_quotient(spark, tmp_path):
    """B = floor(wave_seconds / delay) as Spark evaluates it: 1.0 / 0.1 is
    10 URLs a host, where 1.0 // 0.1 would be 9."""
    seeds = [wg.page_url(SPEC, 1, p) for p in range(40)]  # host1: no robots delay
    scheds = {}
    for tier in TIERS:
        eng = _engine(
            spark, tmp_path / tier, delay=0.1, wave_seconds=1.0, content_dedup=False
        )
        _crawl(eng, tier, seeds=seeds, max_waves=1)
        scheds[tier] = sorted(map(tuple, eng.schedule.read().collect()))
    assert scheds["driver"] == scheds["spark"]
    assert len(scheds["driver"]) == 10


def test_frontier_rows_equal_spark_columns(spark, tmp_path):
    """The driver tier's discovery columns equal ``_with_frontier_cols`` +
    ``_robots_allowed``: murmur3 hash, score, the host with the port
    stripped (robots rules apply to a non-default port), the
    longest-match robots rule."""
    eng = _engine(spark, tmp_path, graph=wg.GraphSpec(n_hosts=20), content_dedup=False)
    urls = [
        "https://host0.example/p/10", "https://host0.example/p/12",
        "https://host0.example:8080/p/12", "https://host0.example:8080/p/105",
        "https://host5.example/p/1", "https://host5.example:81/p/2?a=1&b=2",
        "https://host1.example/p/1", "http://host3.example/", "https://unknown.example/p/1",
        "https://host10.example/p/10/x", "https://host10.example/q",
    ]
    found = {u: 1 + i % 3 for i, u in enumerate(urls)}
    got = sorted(eng._frontier_rows(found))
    df = spark.createDataFrame(list(found.items()), "url string, depth int")
    want = sorted(
        tuple(r)
        for r in eng._robots_allowed(eng._with_frontier_cols(df))
        .select("url", "url_hash", "host", "depth", "attempt", "score")
        .collect()
    )
    assert got == want
    assert "https://host0.example:8080/p/12" not in {r[0] for r in got}


def test_band_keys_equal_spark_hash(spark):
    """The numpy murmur3 chain equals ``band_key_cols``' F.hash of 4 longs,
    bit for bit, on seeded signatures of both signs."""
    rng = np.random.default_rng(7)
    sigs = rng.integers(-(2**63), 2**63 - 1, size=(50, dedup.N_HASHES), dtype=np.int64)
    sigs[:10] = rng.integers(0, 2**31, size=(10, dedup.N_HASHES))  # minhash range
    sigs[10:12] = -1
    sigs[12] = 0
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(sigs)), "sig": list(sigs)}),
        "doc_id long, sig array<long>",
    )
    rows = df.select("doc_id", F.array(*dedup.band_key_cols()).alias("k")).collect()
    want = np.array([r["k"] for r in sorted(rows)], dtype=np.int32)
    got = dedup.band_keys(sigs)
    assert got.dtype == np.int32
    np.testing.assert_array_equal(got, want)
    assert (want < 0).any()


def test_text_signatures_equal_two_udf_chain(spark):
    """The signature kernel the driver tier and with_text_sig share equals
    the independent two-UDF chain (word_ngrams_fast grams, then
    with_minhash_sig), including texts without grams (no signature)."""
    texts = ["a b c d e", "one two", "", None, "x y z x y z w", "crawl page " * 30]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    grams = df.select("doc_id", dedup.word_ngrams_fast(F.col("text")).alias("grams"))
    want = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(grams).collect()}
    got = dedup.text_signatures(texts)
    assert {i for i, s in enumerate(got) if s is not None} == set(want) == {0, 4, 5}
    for i, sig in want.items():
        assert list(got[i]) == sig


def test_wave_timing_line_names_the_tier(spark, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("CRAWL_WAVE_TIMING", "1")
    eng = _engine(spark, tmp_path)
    eng.init_seeds(SEEDS)
    eng.run_wave(1)
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
    eng.run_wave(2)
    recs = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert [(r["wave"], r["tier"]) for r in recs] == [(1, "driver"), (2, "spark:rows")]
    for r in recs:
        assert r["marks"] == eng.wave_marks[r["wave"]]
        assert {"fetch+lineage", "new_links_count", "table_commits+filter_delta",
                "checkpoint"} <= set(r["marks"])


@pytest.mark.parametrize(
    "kw",
    [
        dict(seen_filter="bloom"), dict(seen_filter="exact"),
        dict(bloom_transport="broadcast"), dict(bloom_transport="partitioned"),
        dict(bloom_buckets=64), dict(broadcast_budget_bytes=1 << 20),
    ],
)
def test_crawl_config_rejects_unknown_filter_and_transport(kw):
    """The probabilistic seen filters are gone with their four switches: a
    config that still sets one, even to its old default, fails naming the
    field."""
    with pytest.raises(TypeError, match=next(iter(kw))):
        CrawlConfig(**kw)

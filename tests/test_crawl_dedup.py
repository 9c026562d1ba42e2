"""Crawl-loop content dedup (VERDICT r04 #3): the DedupIndex ingest wired
into the frontier wave cycle.

The last integration seam between the reference's D1 semantics
(url-duplicate, crawl4ai_llm storage/json_storage.py:195-197) and the
pipeline's content-duplicate story: each wave's fetched documents are
matched against the crawl-owned persisted index BEFORE being ingested
into it (backward-only, the streaming/dedup_stream.py ruling), pairs land
in the wave-tagged ``content_dups`` table, and kill/resume rewinds the
index with every other table.

Oracle: the pure-Python crawl simulator supplies each URL's fetch-ok wave
and spans; expected pairs are ALL-PAIRS exact Jaccard (string 3-grams over
the concatenated text spans — the same definition word_ngrams_fast
executes) across docs with strictly increasing fetch waves. The graph
plants near-duplicate chains via GraphSpec.near_dup_every.
"""

from __future__ import annotations

import pytest

from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

from tests.oracle_crawler import simulate

TAU = 0.5

SPEC = wg.GraphSpec(
    n_hosts=8, pages_per_host=40, hot_factor=4, max_links=8,
    seed="dup-graph-7", near_dup_every=4,
)
CFG = dict(delay=1.0, wave_seconds=16.0, max_retries=3, max_depth=4, max_waves=40)
SEEDS = wg.seed_urls(SPEC, n_seeds=10)


def _grams(text: str, n: int = 3) -> set[str]:
    toks = [w for w in text.split(" ") if w]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _doc_text(spans: list[dict]) -> str:
    return " ".join(s["text"] for s in spans if s["kind"] == "text")


def expected_pairs(oracle) -> dict[tuple[str, str], float]:
    """All-pairs exact backward Jaccard over the oracle's fetched docs."""
    docs = {u: _grams(_doc_text(sp)) for u, sp in oracle.spans.items()}
    out: dict[tuple[str, str], float] = {}
    for a, ga in docs.items():
        for b, gb in docs.items():
            if oracle.fetch_wave_of[a] <= oracle.fetch_wave_of[b]:
                continue  # backward-only: new's wave strictly after orig's
            inter = len(ga & gb)
            union = len(ga) + len(gb) - inter
            if union and inter / union >= TAU:
                out[(a, b)] = round(inter / union, 6)
    return out


@pytest.fixture(scope="module")
def oracle():
    return simulate(SPEC, SEEDS, **CFG)


@pytest.fixture(scope="module")
def flag_run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("crawl_dedup_wh"))
    eng = FrontierEngine(
        spark, wh,
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU),
    )
    eng.run(seeds=SEEDS)
    return eng


# Banding recall is a CURVE, not 1.0 (DedupIndex.match_documents
# docstring): a true pair at Jaccard J is missed by every band with
# probability (1 − J⁴)³² — ~13% right AT tau 0.5, 4.8e-8 at J ≥ 0.8. So
# the oracle contract is: precision EXACT (every reported pair is a true
# pair with the exact J), recall deterministic above HI_J.
HI_J = 0.8


def test_planted_graph_has_dup_pairs(oracle):
    # the test is vacuous unless the planted graph yields pairs in the
    # deterministic-recall regime
    want = expected_pairs(oracle)
    assert len([1 for j in want.values() if j >= HI_J]) >= 5


def test_crawl_dedup_pairs_match_oracle(flag_run, oracle):
    got = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in flag_run.dup_pairs.read().collect()
    }
    want = expected_pairs(oracle)
    # precision: every engine pair is a true pair, at the exact Jaccard
    assert set(got) <= set(want)
    for k, j in got.items():
        assert abs(want[k] - j) < 1e-6
    # recall: deterministic above HI_J (banding miss prob < 1e-7 there)
    want_hi = {k for k, j in want.items() if j >= HI_J}
    assert want_hi <= set(got)


def test_crawl_dedup_wave_tags_match_oracle(flag_run, oracle):
    """Every pair is found in the wave its NEW doc was fetched (backward-
    only matching at wave granularity)."""
    for r in flag_run.dup_pairs.read().collect():
        assert r["wave"] == oracle.fetch_wave_of[r["new_id"]]
        assert oracle.fetch_wave_of[r["orig_id"]] < r["wave"]


def test_crawl_dedup_flag_policy_keeps_docs(flag_run, oracle):
    # flag mode: duplicates are recorded but still committed + indexed
    got_docs = {r["doc_id"] for r in flag_run.docs.read().select("doc_id").collect()}
    assert got_docs == oracle.fetched
    snap = flag_run.dedup_index().minhash_bands.current_snapshot()
    assert int(snap.counters["n_docs"]) == len(oracle.fetched)


def test_crawl_dedup_skip_policy(spark, tmp_path, oracle):
    """skip mode: a doc matching stored content is dropped from the docs
    table AND the index. Expected-set parity is greedy-sequential (a
    skipped doc can't be a later doc's orig), so assert the invariants
    rather than the flag-mode closed form: every skipped doc has a
    recorded pair, every surviving doc doesn't duplicate an earlier
    SURVIVING doc."""
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(
            **CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU,
            content_dedup_policy="skip",
        ),
    )
    eng.run(seeds=SEEDS)
    got_docs = {r["doc_id"] for r in eng.docs.read().select("doc_id").collect()}
    pairs = eng.dup_pairs.read().collect()
    skipped = {r["new_id"] for r in pairs}
    assert got_docs == oracle.fetched - skipped
    assert skipped, "planted graph must exercise the skip path"
    # index holds exactly the surviving docs
    snap = eng.dedup_index().minhash_bands.current_snapshot()
    assert int(snap.counters["n_docs"]) == len(got_docs)
    # no surviving doc duplicates an earlier surviving doc in the
    # deterministic-recall regime (marginal-J pairs can honestly survive
    # the banding — the documented recall curve)
    for (a, b), j in expected_pairs(oracle).items():
        if j >= HI_J and a in got_docs and b in got_docs:
            raise AssertionError(f"surviving pair {a} ~ {b} (J={j}) should have been skipped")
    # every recorded orig survived (matches point at INDEXED docs only,
    # and in skip mode indexed == surviving)
    for r in pairs:
        assert r["orig_id"] in got_docs


def test_crawl_dedup_kill_resume(spark, tmp_path, flag_run, oracle):
    """A torn wave (index ingest + pair append landed, checkpoint didn't)
    must rewind on resume; the resumed crawl's dup pairs and index state
    equal the uninterrupted run's."""
    wh = str(tmp_path / "wh")
    base = dict(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU)
    cfg = CrawlConfig(**{**base, "max_waves": 2})
    eng = FrontierEngine(spark, wh, cfg)
    eng.run(seeds=SEEDS)  # stops after wave 2 — the "crash" point

    idx = eng.dedup_index()
    n_docs_committed = int(idx.minhash_bands.current_snapshot().counters["n_docs"])
    # forge the torn wave-3: band keys + a pair row landed, checkpoint didn't
    junk_bands = spark.createDataFrame(
        [("junk-doc", 0, 12345)], idx.minhash_bands.read().schema
    )
    idx.minhash_bands.append(junk_bands, counters={"wave": 3, "n_docs": n_docs_committed + 1})
    pair_schema = "wave int, new_id string, orig_id string, jaccard double"
    existing = eng.dup_pairs.read()
    junk_pair = spark.createDataFrame(
        [(3, "junk-doc", "junk-orig", 1.0)],
        existing.schema if existing is not None else pair_schema,
    )
    eng.dup_pairs.append(junk_pair, counters={"wave": 3})

    eng2 = FrontierEngine(spark, wh, CrawlConfig(**base))
    assert eng2.resume() == 2
    idx2 = eng2.dedup_index()
    assert int(idx2.minhash_bands.current_snapshot().counters["n_docs"]) == n_docs_committed
    eng2.run(seeds=None)

    got = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in eng2.dup_pairs.read().collect()
    }
    # resumed run == uninterrupted run, exactly (banding is deterministic:
    # fixed-key hash_array signatures) — flag_run crawled the same graph
    # from the same seeds without a kill
    want = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in flag_run.dup_pairs.read().collect()
    }
    assert got == want
    assert "junk-doc" not in {a for a, _ in got}
    assert int(idx2.minhash_bands.current_snapshot().counters["n_docs"]) == len(oracle.fetched)


def test_crawl_dedup_with_compaction_matches(spark, tmp_path, flag_run):
    """compact_every now also compacts the dedup index + pair table; a
    compacted crawl must produce the identical pair set."""
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU,
                    compact_every=2),
    )
    eng.run(seeds=SEEDS)
    got = {(r["new_id"], r["orig_id"]) for r in eng.dup_pairs.read().collect()}
    want = {(r["new_id"], r["orig_id"]) for r in flag_run.dup_pairs.read().collect()}
    assert got == want
    # compaction bounded the index file count
    snap = eng.dedup_index().minhash_bands.current_snapshot()
    assert len(snap.files) <= spark.sparkContext.defaultParallelism


def test_auto_compaction_file_threshold(spark, tmp_path, flag_run):
    """r08 (VERDICT r07 #6): compact_file_threshold triggers compaction
    from the docs table's LIVE FILE COUNT instead of a wave cadence —
    the quantity that actually degrades snap.files consumers. The
    crawl's results must be identical and the live file set bounded."""
    threshold = 6
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU,
                    compact_file_threshold=threshold, commit_partitions=4),
    )
    eng.run(seeds=SEEDS)
    got = {(r["new_id"], r["orig_id"]) for r in eng.dup_pairs.read().collect()}
    want = {(r["new_id"], r["orig_id"]) for r in flag_run.dup_pairs.read().collect()}
    assert got == want
    # the trigger fired (a multi-wave crawl at 4 files/wave must exceed 6)
    # and bounded the live set: at most threshold + one wave's appends
    # accumulate before the next trigger check
    snap = eng.docs.current_snapshot()
    par = spark.sparkContext.defaultParallelism
    assert len(snap.files) <= threshold + 4, len(snap.files)
    # expire_keep_last=1 actually freed superseded files on disk
    import os

    data_dir = os.path.dirname(snap.files[0])
    on_disk = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(on_disk) <= threshold + 2 * par, len(on_disk)
    # docs content equals the uncompacted run's
    got_docs = {r["doc_id"] for r in eng.docs.read().select("doc_id").collect()}
    want_docs = {r["doc_id"] for r in flag_run.docs.read().select("doc_id").collect()}
    assert got_docs == want_docs


def test_resume_truncates_first_wave_torn_table(spark, tmp_path):
    """Kill during the FIRST wave that ever writes a table: no snapshot
    predates the torn one, so rollback can't rewind — resume must
    truncate (catalog.Table.truncate) or the re-run wave double-appends."""
    wh = str(tmp_path / "wh")
    cfg = CrawlConfig(**CFG, graph=SPEC, content_dedup=True)
    eng = FrontierEngine(spark, wh, cfg)
    eng.init_seeds(SEEDS)  # checkpoint at wave 0; docs/index never written
    junk = spark.createDataFrame([("junk", [], 1)], "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, wave int")
    eng.docs.append(junk, counters={"wave": 1})
    idx = eng.dedup_index()
    jb = spark.createDataFrame([("junk", 0, 1)], "doc_id string, band int, key long")
    idx.minhash_bands.append(jb, counters={"wave": 1, "n_docs": 1})

    eng2 = FrontierEngine(spark, wh, cfg)
    assert eng2.resume() == 0
    assert eng2.docs.read() is None or eng2.docs.read().count() == 0
    assert eng2.dedup_index().minhash_bands.is_empty()
    # and the crawl runs cleanly from there, re-ingesting exactly once
    eng2.run(seeds=None, max_waves=2)
    n_docs = eng2.docs.read().count()
    snap = eng2.dedup_index().minhash_bands.current_snapshot()
    assert int(snap.counters["n_docs"]) == n_docs
    assert eng2.docs.read().select("doc_id").distinct().count() == n_docs


def test_rebuild_content_index_after_recrawl(spark, tmp_path, oracle):
    """The CrawlConfig corner note exercised end-to-end: evict_from_seen +
    organic recrawl appends a second docs row AND a stale band-key copy
    per recrawled URL; rebuild_content_index keeps only the latest fetch
    per doc_id (row-level wave column), returning the index to the
    distinct-doc count with matching behavior preserved."""
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU),
    )
    eng.run(seeds=SEEDS)
    n0 = eng.docs.read().count()
    assert n0 == eng.docs.read().select("doc_id").distinct().count()
    bands_per_doc = eng.dedup_index().minhash_bands.read().count() // n0

    victims = sorted(oracle.fetched)[:3]
    assert eng.evict_from_seen(victims) == 3
    eng.enqueue(victims)
    assert eng.run(seeds=None) >= 1  # the recrawl wave actually ran

    # the corner: one extra docs row + one stale index copy per recrawl.
    # (re-entering at depth 0 can also legitimately open pages beyond the
    # original depth horizon — so compare rows vs distinct, not vs n0)
    rows = eng.docs.read().count()
    n_distinct = eng.docs.read().select("doc_id").distinct().count()
    assert rows == n_distinct + 3
    dup_ids = {
        r["doc_id"]
        for r in eng.docs.read().groupBy("doc_id").count().where("count > 1").collect()
    }
    assert dup_ids == set(victims)
    idx = eng.dedup_index()
    assert int(idx.minhash_bands.current_snapshot().counters["n_docs"]) == rows
    # the recrawled docs matched their own earlier copy at J=1.0
    self_pairs = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in eng.dup_pairs.read().collect()
        if r["new_id"] in set(victims) and r["new_id"] == r["orig_id"]
    }
    assert set(self_pairs) == {(v, v) for v in victims}
    assert all(abs(j - 1.0) < 1e-9 for j in self_pairs.values())

    n = eng.rebuild_content_index()
    assert n == n_distinct
    snap = idx.minhash_bands.current_snapshot()
    assert int(snap.counters["n_docs"]) == n_distinct
    assert idx.minhash_bands.read().count() == n_distinct * bands_per_doc
    assert not snap.counters.get("stale")

    # matching against the rebuilt index still finds the right orig
    from pyspark.sql import functions as F

    probe_text = " ".join(
        s["text"] for s in oracle.spans[victims[0]] if s["kind"] == "text"
    )
    probe = spark.createDataFrame([("probe-1", probe_text)], "doc_id string, text string")
    stored = eng.docs.read()
    w_latest = (
        stored.groupBy("doc_id").agg(F.max("wave").alias("wave"))
    )
    stored_text = (
        stored.join(w_latest, ["doc_id", "wave"])
        .select("doc_id", eng._spans_text(F.col("spans")).alias("text"))
    )
    pairs = eng.dedup_index().match_documents(probe, stored_text, tau=TAU).collect()
    hits = {r["orig_id"]: r["jaccard"] for r in pairs if r["new_id"] == "probe-1"}
    assert victims[0] in hits and abs(hits[victims[0]] - 1.0) < 1e-9


def test_orig_text_byte_budget_forces_distributed_read(
    spark, tmp_path, flag_run, monkeypatch
):
    """r08 (VERDICT r07 #2): the driver-tier orig-text pyarrow read is
    gated on the docs table's LIVE BYTES. Force the budget to zero for a
    whole crawl: _read_doc_texts must decline (return None), the match
    must fall back to the distributed pushdown-pruned scan, and the pair
    set + jaccard values must equal the ungated run's exactly."""
    from crawl4ai_llm_spark.frontier import engine as eng_mod

    monkeypatch.setattr(eng_mod, "DRIVER_TEXT_READ_BYTE_BUDGET", 0)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU),
    )
    eng.run(seeds=SEEDS)
    # the gate must actually decline on the populated table
    some_id = next(iter(eng.docs.read().select("doc_id").limit(1).collect()))["doc_id"]
    assert eng._read_doc_texts([some_id]) is None
    got = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in eng.dup_pairs.read().collect()
    }
    want = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in flag_run.dup_pairs.read().collect()
    }
    assert got == want


def test_read_doc_texts_max_wave_wins(spark, tmp_path, flag_run):
    """ADVICE r07: with multiple rows per doc_id the orig-text lookup
    must return the MAX-WAVE row's text (the repo's latest-fetch rule),
    not whichever row the scan order surfaces last — compaction rewrites
    files and mixes waves."""
    import pyarrow.parquet as pq

    eng = flag_run
    rows = eng.docs.read().limit(1).collect()
    some, wave_now = rows[0]["doc_id"], rows[0]["wave"]
    schema = pq.ParquetFile(eng.docs.current_snapshot().files[0]).schema_arrow
    span = {"kind": "text", "text": None, "media_ref": None, "offset": 0}
    # append a NEWER fetch of the same doc with a sentinel text, then an
    # OLDER-wave row with a decoy — max-wave must win regardless of order
    eng.docs.append_pylist(
        [{"doc_id": some, "spans": [{**span, "text": "sentinel-latest"}],
          "wave": wave_now + 5}],
        schema=schema,
    )
    eng.docs.append_pylist(
        [{"doc_id": some, "spans": [{**span, "text": "decoy-stale"}],
          "wave": wave_now + 1}],
        schema=schema,
    )
    got = eng._read_doc_texts([some])
    assert got[some] == "sentinel-latest"


def test_orig_text_fallback_max_wave_wins(spark, flag_run, monkeypatch):
    """With the engine's driver-side text reader declined, the distributed
    orig-text read behind match_documents_driver resolves a recrawled
    doc_id by max wave, as _read_doc_texts does — not by whichever row
    its unordered scan returns last."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from crawl4ai_llm_spark.frontier import engine as eng_mod

    monkeypatch.setattr(eng_mod, "DRIVER_TEXT_READ_BYTE_BUDGET", 0)
    eng = flag_run
    rows = eng.docs.read().select("doc_id", "spans", "wave").collect()
    counts: dict = {}
    for r in rows:
        counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    texts = {r["doc_id"]: _doc_text(r["spans"]) for r in rows if counts[r["doc_id"]] == 1}
    some = max(d for d, t in texts.items() if len(t.split()) >= 10)
    wave = next(r["wave"] for r in rows if r["doc_id"] == some)
    toks = texts[some].split()
    latest = " ".join(toks[:-1] + ["recrawled"])  # a near-copy: Jaccard < 1
    schema = pq.ParquetFile(eng.docs.current_snapshot().files[0]).schema_arrow
    span = {"kind": "text", "text": None, "media_ref": None, "offset": 0}
    # the max-wave row first, then an older-wave decoy appended after it
    for text, w in ((latest, wave + 5), ("decoy stale text", wave + 1)):
        eng.docs.append_pylist(
            [{"doc_id": some, "spans": [{**span, "text": text}], "wave": w}], schema=schema
        )
    assert eng._read_doc_texts([some]) is None
    idx = eng.dedup_index()
    prepared = idx.prepare_batch(
        spark.createDataFrame([("probe", texts[some])], "doc_id string, text string")
    ).cache()
    stored_text = eng.docs.read().select(
        "doc_id", eng._spans_text(F.col("spans")).alias("text"), "wave"
    )
    pairs = idx.match_documents_driver(
        stored_text, tau=TAU, prepared=prepared, n_batch=1, orig_texts=eng._read_doc_texts
    )
    prepared.unpersist()
    got = {p["orig_id"]: p["jaccard"] for p in pairs}
    a, b = _grams(texts[some]), _grams(latest)
    want = len(a & b) / len(a | b)
    assert TAU <= want < 1.0
    assert got[some] == pytest.approx(want, abs=1e-6)


def test_crawl_dedup_distributed_fallback_matches_driver_tier(
    spark, tmp_path, flag_run, monkeypatch
):
    """r07: the wave match runs a driver tier by default; when a driver
    gate trips it falls back to the distributed verify. Force the gate
    shut for a whole crawl and require the identical pair set + jaccard
    values the driver-tier run (flag_run) produced."""
    from crawl4ai_llm_spark.operators import dedup_store as ds

    monkeypatch.setattr(ds, "BROADCAST_BAND_ROW_BUDGET", 0)  # both tiers off
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True, content_dedup_tau=TAU),
    )
    eng.run(seeds=SEEDS)
    got = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in eng.dup_pairs.read().collect()
    }
    want = {
        (r["new_id"], r["orig_id"]): r["jaccard"]
        for r in flag_run.dup_pairs.read().collect()
    }
    assert got == want


def test_distributed_match_scores_only_max_wave_row(spark, tmp_path, monkeypatch):
    """With the driver tier declined, the distributed match_documents
    verify scores a recrawled doc_id by its max-wave row only: an older
    row that matches the probe and a newer one that does not give no
    pair, and the other way round give the newer row's pair."""
    import random

    from crawl4ai_llm_spark.operators import dedup_store as ds

    monkeypatch.setattr(ds, "DRIVER_MATCH_DOC_BUDGET", 0)  # driver tier declines
    rng = random.Random(11)
    words = [f"w{i}" for i in range(5000)]
    old = " ".join(rng.choice(words) for _ in range(30))
    new = " ".join(rng.choice(words) for _ in range(30))
    idx = ds.DedupIndex(spark, str(tmp_path / "index"))
    idx.ingest_documents(
        spark.createDataFrame([("doc", old)], "doc_id string, text string")
    )
    schema = "doc_id string, text string, wave int"
    probe = spark.createDataFrame([("probe", old)], "doc_id string, text string")
    prepared = idx.prepare_batch(probe).cache()

    def pairs(stored_rows):
        stored = spark.createDataFrame(stored_rows, schema)
        assert idx.match_documents_driver(
            stored, tau=TAU, prepared=prepared, n_batch=1
        ) is None
        got = idx.match_documents(probe, stored, tau=TAU, prepared=prepared, n_batch=1)
        return {(r["new_id"], r["orig_id"]): r["jaccard"] for r in got.collect()}

    # old text matches, the recrawl's newer text does not: no pair
    assert pairs([("doc", old, 1), ("doc", new, 2)]) == {}
    # the newer row matches: its pair, whatever the older row holds
    assert pairs([("doc", new, 1), ("doc", old, 3), ("doc", new, None)]) == {
        ("probe", "doc"): 1.0
    }
    prepared.unpersist()

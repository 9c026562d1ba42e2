"""The driver tier's resident indexes (``catalog.ResidentIndex``) and the
row gate that counts only the rows a wave decodes.

Each index — seen rows by url_hash, docs rows by doc_id, band rows by
packed key — must equal, after every way a crawl changes its tables, both
a fresh index built over the same files and the per-file scans
it replaced (kept here as the slow reference). The gate must keep a warm
crawl's thin waves on the driver however long its history, still decline
a fat pending frontier, and drop the indexes once they outgrow their byte
cap.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from crawl4ai_llm_spark.catalog import ResidentIndex, appended
from crawl4ai_llm_spark.frontier import engine as eng_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import (
    DOCS_ROW_SCHEMA,
    SEEN_ROW_SCHEMA,
    CrawlConfig,
    FrontierEngine,
    _doc_text,
)
from crawl4ai_llm_spark.frontier.hashing import spark_hash_strs
from crawl4ai_llm_spark.operators import dedup
from crawl4ai_llm_spark.operators import dedup_store as ds

from tests.oracle_crawler import simulate

SPEC = wg.GraphSpec(
    n_hosts=8, pages_per_host=40, hot_factor=4, max_links=8,
    seed="dup-graph-7", near_dup_every=4,
)
CFG = dict(delay=1.0, wave_seconds=16.0, max_retries=3, max_depth=4, max_waves=40)
SEEDS = wg.seed_urls(SPEC, n_seeds=10)
TAU = 0.5


def _engine(spark, path, **kw) -> FrontierEngine:
    cfg = {**CFG, "graph": SPEC, "content_dedup": True, "content_dedup_tau": TAU, **kw}
    return FrontierEngine(spark, str(path), CrawlConfig(**cfg))


# ------------------------------------------------------------- reference scans
# The per-file scans the driver tier ran before the resident indexes.


def scan_band_rows(files: list[str], wanted) -> tuple[np.ndarray, list]:
    """Stored band rows whose packed key ``(key << 6) + band`` is in
    ``wanted``: (packed keys, doc ids), in file order, then row order."""
    m_ck, m_ids = [], []
    for f in files:
        kb = pads.dataset(f).to_table(columns=["key", "band"])
        ck = (kb.column("key").to_numpy().astype(np.int64) << np.int64(6)) + kb.column(
            "band"
        ).to_numpy()
        hit = np.flatnonzero(np.isin(ck, wanted))
        if len(hit):
            m_ck.append(ck[hit])
            ids = pads.dataset(f).to_table(columns=["doc_id"]).column(0)
            m_ids.extend(ids.take(pa.array(hit)).to_pylist())
    return (np.concatenate(m_ck) if m_ck else np.empty(0, np.int64)), m_ids


def scan_seen_urls(files: list[str], hashes) -> set:
    """urls of the seen rows whose url_hash is in ``hashes`` (pushdown)."""
    hits = pads.dataset(files).to_table(
        columns=["url"], filter=pads.field("url_hash").isin(pa.array(hashes, pa.int64()))
    )
    return set(hits.column(0).to_pylist())


def scan_doc_texts(files: list[str], doc_ids: list) -> dict:
    """Each doc id's text from its max-wave row (a tie: the later row)."""
    tbl = pads.dataset(files).to_table(
        columns=["doc_id", "spans", "wave"], filter=pads.field("doc_id").isin(doc_ids)
    )
    best: dict = {}
    for did, spans, wv in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("spans").to_pylist(),
        tbl.column("wave").to_pylist(),
    ):
        wv = -1 if wv is None else wv
        if did not in best or wv >= best[did][0]:
            best[did] = (wv, _doc_text(spans))
    return {did: text for did, (_, text) in best.items()}


# ------------------------------------------------------------- index checks


def _state(index: ResidentIndex):
    keys = np.concatenate([k for k, _ in index._runs])
    rows = np.concatenate([r for _, r in index._runs])
    o = np.lexsort((rows, keys))
    return (
        list(index.files), index.starts.tolist(), keys[o].tolist(), rows[o].tolist(),
        [c.to_pylist() for c in index.chunks],
    )


def _files(table) -> list[str]:
    snap = table.current_snapshot()
    return snap.files if snap else []


def _probe_docs(files: list[str], n: int = 24) -> tuple[list, np.ndarray, dict]:
    """New ids, their (n, N_BANDS) band keys and texts: copies of stored
    docs' texts, so the match has pairs to find."""
    tbl = pads.dataset(files).to_table(columns=["doc_id", "spans"]) if files else None
    texts = [_doc_text(s) for s in tbl.column("spans").to_pylist()[:n]] if tbl else []
    sigs = dedup.text_signatures(texts)
    keep = [j for j, s in enumerate(sigs) if s is not None]
    new_ids = [f"probe-{j}" for j in keep]
    keys = (
        dedup.band_keys(np.stack([sigs[j] for j in keep]))
        if keep else np.zeros((0, dedup.N_BANDS), np.int32)
    )
    return new_ids, keys, {f"probe-{j}": texts[j] for j in keep}


def assert_indexes_consistent(eng: FrontierEngine) -> dict:
    """Sync each of the engine's indexes to its table's current files, then
    check it against a fresh rebuild and the reference scans, and
    the band match's pairs (values and order) against the scan's. Returns
    the number of pairs found."""
    rng = np.random.default_rng(5)
    for table, index in eng._indexes():
        files = _files(table)
        index.sync(files)
        fresh = ResidentIndex(index.columns, index.payload, index.key, index.read_dictionary)
        fresh.sync(files)
        assert _state(index) == _state(fresh), table.root
    seen = eng._seen_index
    hashes = pads.dataset(_files(eng.seen)).to_table(columns=["url_hash"]).column(0).to_numpy()
    probe = np.concatenate([hashes[::3], rng.integers(-(2**31), 2**31, 50)])
    assert set(seen.take(seen.find(probe)[0], "url")) == scan_seen_urls(_files(eng.seen), probe)
    if not eng.config.content_dedup:
        return {}
    idx = eng.dedup_index()
    bands = _files(idx.minhash_bands)
    docs = _files(eng.docs)
    if not bands:
        return {"pairs": 0}
    ids = pads.dataset(docs).to_table(columns=["doc_id"]).column(0).to_pylist()
    asked = ids[::4] + ["https://nowhere.example/p/1"]
    assert eng._read_doc_texts(asked) == scan_doc_texts(docs, asked)
    new_ids, keys, new_text = _probe_docs(docs)
    ck_all = (keys.astype(np.int64) << np.int64(6)) + np.arange(dedup.N_BANDS, dtype=np.int64)
    rows, ck = idx.band_index.find(ck_all.ravel())
    want_ck, want_ids = scan_band_rows(bands, np.unique(ck_all))
    assert ck.tolist() == want_ck.tolist()
    assert idx.band_index.take(rows, "doc_id") == want_ids

    def texts(need_new, need_orig):
        return {d: new_text[d] for d in need_new}, scan_doc_texts(docs, need_orig)

    got = idx.match_band_keys(new_ids, keys, texts, TAU)
    want = ds.match_pairs(
        np.asarray(new_ids, dtype=object), ck_all, want_ck, np.asarray(want_ids, dtype=object),
        texts, TAU,
    )
    assert got == want  # values and order
    return {"pairs": len(got)}


def test_appended_rule():
    assert appended([], ["a", "b"]) == ["a", "b"]
    assert appended(["a"], ["a", "b"]) == ["b"]
    assert appended(["a", "b"], ["a", "b"]) == []
    assert appended(["a", "b"], ["a"]) is None  # rollback / truncate
    assert appended(["a", "b"], ["a", "c"]) is None  # torn wave re-run
    assert appended(["a"], ["c"]) is None  # compaction / overwrite


def test_index_find_take_match_a_scan(tmp_path):
    """Many appends of random sizes (empty files too): after each, find
    and take equal a scan over every file, and the two key runs stay
    sorted."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    index = ResidentIndex(["url_hash", "url"], ["url"], lambda t: t.column("url_hash").to_numpy())
    files, keys, urls = [], [], []
    for i in range(60):
        n = int(rng.integers(0, 400))
        k = rng.integers(-80, 80, n)
        u = [f"https://h{i}.example/p/{j}" for j in range(n)]
        path = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"url_hash": k, "url": u}), path)
        files.append(path)
        keys += k.tolist()
        urls += u
        index.sync(files)
        wanted = rng.integers(-90, 90, 12)
        rows, got_keys = index.find(wanted)
        want = [r for r, key in enumerate(keys) if key in set(wanted.tolist())]
        assert rows.tolist() == want
        assert got_keys.tolist() == [keys[r] for r in want]
        assert index.take(rows, "url") == [urls[r] for r in want]
        for run, _ in index._runs:
            assert (np.diff(run) >= 0).all()
    assert len(index._runs[1][0]) <= len(index._runs[0][0]) // 8


def test_indexes_follow_every_table_change(spark, tmp_path):
    """Driver waves, a Spark-tier wave in between, compaction, a torn
    driver wave and resume(), evict_from_seen + recrawl and
    rebuild_content_index: after each, every index equals a rebuild and
    the reference scans, and the match's pairs equal the scan's."""
    eng = _engine(spark, tmp_path)
    eng.init_seeds(SEEDS)
    for wave in (1, 2, 3):
        eng.run_wave(wave)
        assert_indexes_consistent(eng)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)
        eng.run_wave(4)
    assert_indexes_consistent(eng)
    eng.run_wave(5)
    assert eng.tiers == {"driver": 4, "spark:rows": 1}
    assert_indexes_consistent(eng)

    covered = {t.root: list(i.files) for t, i in eng._indexes()}
    eng.compact_tables(target_partitions=2)
    for table, _ in eng._indexes():  # compaction rewrote every file
        assert appended(covered[table.root], _files(table)) is None
    assert_indexes_consistent(eng)
    eng.run_wave(6)
    assert_indexes_consistent(eng)

    def boom(*a, **kw):
        raise RuntimeError("killed mid-commit")

    eng.seen.append_arrow = boom  # the docs commit lands, seen's does not
    with pytest.raises(RuntimeError):
        eng.run_wave(7)
    del eng.seen.append_arrow
    assert_indexes_consistent(eng)  # the torn docs file is covered now
    torn = list(eng._docs_index.files)
    assert eng.resume() == 6
    assert appended(torn, _files(eng.docs)) is None
    assert_indexes_consistent(eng)
    eng.run_wave(7)
    assert_indexes_consistent(eng)

    victims = sorted(
        r["doc_id"] for r in eng.docs.read().select("doc_id").collect()
    )[:3]
    assert eng.evict_from_seen(victims) == 3
    assert_indexes_consistent(eng)
    eng.enqueue(victims)
    eng.run(seeds=None)
    assert_indexes_consistent(eng)
    eng.rebuild_content_index()
    found = assert_indexes_consistent(eng)
    assert found["pairs"] > 0
    assert set(eng.tiers) == {"driver", "spark:rows"}


def test_seen_hash_collision_keeps_url_new(spark, tmp_path):
    """A seen row with a discovered URL's url_hash but another url: the
    Bloom filter and the index both hit, and the url compare still keeps
    the discovered URL new."""
    plain = _engine(spark, tmp_path / "plain", content_dedup=False)
    plain.init_seeds(SEEDS)
    plain.run_wave(1)
    new = plain.seen.read().where("wave = 1").collect()
    victim = new[0]
    decoy = _engine(spark, tmp_path / "decoy", content_dedup=False)
    decoy.init_seeds(SEEDS)
    decoy.seen.append_arrow(
        pa.Table.from_pydict(
            {"url_hash": [victim["url_hash"]], "url": ["https://decoy.example/p/0"], "wave": [0]},
            schema=to_arrow_schema(SEEN_ROW_SCHEMA),
        ),
        counters={"wave": 0}, spark_schema=SEEN_ROW_SCHEMA,
    )
    decoy.run_wave(1)
    assert decoy.tiers == {"driver": 1}
    got = decoy.seen.read().where("wave = 1").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, new))
    assert decoy._seen_index.find([victim["url_hash"]])[0].size == 1  # the decoy


def _colliding_ids() -> tuple[str, str]:
    """Two doc ids with the same murmur3 hash (the docs index's key)."""
    ids = [f"https://c.example/p/{i}" for i in range(300_000)]
    h = spark_hash_strs(ids)
    o = np.argsort(h, kind="stable")
    dup = np.flatnonzero(h[o][1:] == h[o][:-1])[0]
    return ids[o[dup]], ids[o[dup + 1]]


def test_doc_index_resolves_max_wave_row(spark, tmp_path):
    """A recrawled doc_id resolves to its max-wave row wherever its rows
    sit (one file or several, newest first or last); a tie inside one
    wave takes the later row; a null wave ranks lowest; another id with
    the same hash never answers for it."""
    eng = _engine(spark, tmp_path)
    a, b = _colliding_ids()
    schema = to_arrow_schema(DOCS_ROW_SCHEMA)
    schema = schema.set(2, schema.field("wave").with_nullable(True))  # null waves too

    def add(rows):
        eng.docs.append_arrow(
            pa.Table.from_pydict(
                {
                    "doc_id": [r[0] for r in rows],
                    "spans": [[{"kind": "text", "text": r[2], "media_ref": None, "offset": 0}]
                              for r in rows],
                    "wave": [r[1] for r in rows],
                },
                schema=schema,
            ),
            counters={},
        )

    add([(a, 1, "a1"), ("d", 2, "d2")])
    add([(a, 5, "a5"), (a, 3, "a3"), ("d", 2, "d2-later"), ("n", None, "n-null"), (b, 7, "b7")])
    add([(a, 4, "a4"), ("n", None, "n-null-later")])
    asked = [a, "d", "n", "missing"]
    want = {a: "a5", "d": "d2-later", "n": "n-null-later"}
    assert eng._read_doc_texts(asked) == want == scan_doc_texts(_files(eng.docs), asked)
    assert eng._read_doc_texts([b]) == {b: "b7"}
    add([(a, 9, "a9")])  # a later wave: one more file, read incrementally
    assert eng._read_doc_texts([a]) == {a: "a9"}
    assert len(eng._docs_index.files) == 4


def _crawl_with_decode_log(spark, path, **kw):
    """A full crawl; per wave, the rows it decodes (``_rows_to_decode``)
    and the rows of the frontier, seen and band tables it holds."""
    eng = _engine(spark, path, **kw)
    log = []
    rows_to_decode = eng._rows_to_decode

    def spy(snaps):
        pending, rows = rows_to_decode(snaps)
        held = sum(
            eng._rows_of(snaps[t].files)
            for t in (eng.frontier, eng.seen, eng.dedup_index().minhash_bands)
            if snaps[t]
        )
        log.append((rows, held))
        return pending, rows

    eng._rows_to_decode = spy
    eng.run(seeds=SEEDS)
    return eng, log


def _pairs(eng) -> list:
    return sorted(map(tuple, eng.dup_pairs.read().collect()))


def test_warm_indexes_keep_thin_waves_on_driver(spark, tmp_path, monkeypatch):
    """The cliff regression: with the budget set to the most rows any
    wave of this crawl decodes, every wave stays on the driver, though
    the history it holds grows well past the budget — the old gate
    counted all of it."""
    ref, log = _crawl_with_decode_log(spark, tmp_path / "ref")
    budget = max(rows for rows, _ in log)
    assert max(held for _, held in log) > 2 * budget
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", budget)
    eng, log2 = _crawl_with_decode_log(spark, tmp_path / "gated")
    assert set(eng.tiers) == {"driver"}
    assert sum(held > budget for _, held in log2) >= 3
    assert _pairs(eng) == _pairs(ref)


def test_fat_pending_frontier_declines(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path)
    eng.init_seeds(SEEDS)
    eng.run_wave(1)
    eng.run_wave(2)
    monkeypatch.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", eng._live_rows(eng.frontier) - 1)
    eng.run_wave(3)
    assert eng.tiers == {"driver": 2, "spark:rows": 1}


def test_byte_cap_drops_indexes_and_sends_waves_to_spark(spark, tmp_path, monkeypatch):
    """A tiny cap sends the next wave to Spark and frees the indexes; a
    cap at three quarters of the indexes' final size holds after every wave, and the
    crawl's output is the uncapped crawl's."""
    oracle = simulate(SPEC, SEEDS, **CFG)
    ref = _engine(spark, tmp_path / "ref")
    ref.run(seeds=SEEDS)
    full = ref.resident_index_bytes()
    assert full > 0 and set(ref.tiers) == {"driver"}

    eng = _engine(spark, tmp_path / "tiny")
    eng.init_seeds(SEEDS)
    eng.run_wave(1)
    eng.run_wave(2)
    assert eng.resident_index_bytes() > 0
    monkeypatch.setattr(eng_mod, "RESIDENT_INDEX_BYTES", 1)
    eng.run_wave(3)
    assert eng.tiers == {"driver": 2, "spark:index": 1}
    assert eng.resident_index_bytes() == 0

    cap = full * 3 // 4
    monkeypatch.setattr(eng_mod, "RESIDENT_INDEX_BYTES", cap)
    capped = _engine(spark, tmp_path / "capped")
    capped.init_seeds(SEEDS)
    wave = 0
    while True:
        wave += 1
        stats = capped.run_wave(wave)
        assert capped.resident_index_bytes() <= cap
        if not stats.get("scheduled"):
            break
    assert capped.tiers["driver"] >= 2 and capped.tiers["spark:index"] >= 1
    assert set(capped.tiers) == {"driver", "spark:index"}
    assert {r["url"] for r in capped.seen.read().collect()} == oracle.seen
    assert _pairs(capped) == _pairs(ref)


def test_match_documents_without_broadcast_equals_broadcast(spark, tmp_path, monkeypatch):
    """The distributed match broadcasts no band rows by hint: the
    thin-batch branch's matched rows join as the plan chooses — with
    every broadcast turned off (the planner's and AQE's thresholds, and
    the candidate pairs' gate) the plan has no broadcast join — and the
    fat-batch branch shuffles the stored rows; all give the same pairs."""
    import random

    rng = random.Random(3)
    words = [f"w{i}" for i in range(3000)]
    base = [" ".join(rng.choice(words) for _ in range(40)) for _ in range(30)]
    stored = spark.createDataFrame(
        [(f"s{i}", t) for i, t in enumerate(base)], "doc_id string, text string"
    )
    idx = ds.DedupIndex(spark, str(tmp_path / "index"))
    idx.ingest_documents(stored)
    batch = spark.createDataFrame(
        [(f"n{i}", t if i % 2 else t.rsplit(" ", 1)[0] + " tail") for i, t in enumerate(base[:12])]
        + [("fresh", " ".join(rng.choice(words) for _ in range(40)))],
        "doc_id string, text string",
    )

    def pairs(n_batch=13):
        got = idx.match_documents(batch, stored, tau=TAU, n_batch=n_batch)
        rows = sorted(map(tuple, got.collect()))
        return rows, got._jdf.queryExecution().executedPlan().toString()

    want, plan = pairs()
    assert len(want) >= 12 and "BroadcastHashJoin" in plan
    # the fat-batch branch (no batch size: the plain join) shuffles the
    # stored band rows, whatever their size estimate
    fat, plan = pairs(n_batch=None)
    assert fat == want and "SortMergeJoin" in plan
    monkeypatch.setattr(dedup, "BROADCAST_PAIR_BUDGET", 0)
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        got, plan = pairs()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "BroadcastHashJoin" not in plan
    assert got == want

"""A crawl wave's Spark job budget on each tier, and the driver-side work
that replaced jobs: the driver tier's zero-job waves, Bloom bitmaps built
with numpy on the driver, out-links canonicalized inside the fetch batch,
and catalog reads that take their schema from the first file's footer
instead of an inference job.

Jobs are counted by job-id range through the status tracker (the same rule
as ``perfbench/tracer.py``), so jobs launched from the engine's commit
thread pool count too.
"""

from __future__ import annotations

import contextlib
import io
import json
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier import bloom as bloom_mod
from crawl4ai_llm_spark.frontier import engine as eng_mod
from crawl4ai_llm_spark.frontier import webgraph as wg
from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine
from crawl4ai_llm_spark.functions.urls import _canonical_links, canonicalize_url

SPEC = wg.GraphSpec(
    n_hosts=8, pages_per_host=40, hot_factor=4, max_links=8,
    seed="dup-graph-7", near_dup_every=4,
)
CFG = dict(delay=1.0, wave_seconds=16.0, max_retries=3, max_depth=4)
SEEDS = wg.seed_urls(SPEC, n_seeds=10)
# jobs of one steady content-dedup wave (wave 2: the near-dup index is
# non-empty, so the driver-tier match runs) on SPEC: 27 since Bloom upkeep,
# link canonicalization and read schemas left Spark (37 before), plus a
# margin of 2
WAVE_JOB_BUDGET = 27 + 2


class JobCounter:
    """Spark jobs (and their stages) submitted inside a ``count()`` block,
    by job id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _next_id(self, first: int | None = None) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        if first is None:
            # the tracker forgets old jobs (spark.ui.retainedJobs), so the
            # scan starts at the newest job it still reports
            first = max(self.tracker.getJobIdsForGroup(None), default=-1) + 1
        j = first
        while self.tracker.getJobInfo(j) is not None:
            j += 1
        return j

    @contextlib.contextmanager
    def count(self):
        rec = {}
        first = self._next_id()
        yield rec
        last = self._next_id(first)
        infos = [self.tracker.getJobInfo(j) for j in range(first, last)]
        rec["jobs"] = len(infos)
        rec["stages"] = sum(len(i.stageIds) for i in infos)


@pytest.fixture(scope="module")
def jobs(spark):
    return JobCounter(spark)


@pytest.fixture(scope="module")
def two_waves(spark, tmp_path_factory, jobs):
    """Seeds + two content-dedup waves on the Spark tier (the driver tier's
    row budget patched to 0) with CRAWL_WAVE_TIMING on; records
    each wave's job count, its stdout and the plan of the frame the Bloom
    probe receives (the discovered links)."""
    eng = FrontierEngine(
        spark, str(tmp_path_factory.mktemp("wave_jobs")),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True),
    )
    eng.init_seeds(SEEDS)
    plans = []
    probe_expr = bloom_mod.probe_expr

    def spy(df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return probe_expr(df, *a, **kw)

    out = {"jobs": [], "stats": [], "stdout": io.StringIO(), "plans": plans, "engine": eng}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(eng_mod, "DRIVER_WAVE_ROW_BUDGET", 0)  # the Spark tier
        mp.setattr(bloom_mod, "probe_expr", spy)
        mp.setenv("CRAWL_WAVE_TIMING", "1")
        for wave in (1, 2):
            with jobs.count() as rec, contextlib.redirect_stdout(out["stdout"]):
                out["stats"].append(eng.run_wave(wave))
            out["jobs"].append(rec["jobs"])
    return out


def test_wave_job_budget(two_waves):
    """A steady content-dedup wave stays within its job budget, and the
    discovered links reach the Bloom probe with no Python stage left in
    their plan (canonicalization happened in the fetch batch)."""
    assert 0 < two_waves["jobs"][1] <= WAVE_JOB_BUDGET, two_waves["jobs"]
    assert len(two_waves["plans"]) == 2
    for plan in two_waves["plans"]:
        assert "_canonicalize_series" not in plan
        assert "ArrowEvalPython" not in plan


def test_wave_timing_is_one_json_line_per_wave(two_waves):
    lines = two_waves["stdout"].getvalue().splitlines()
    recs = [json.loads(line) for line in lines]
    assert [r["wave"] for r in recs] == [1, 2]
    for rec, stats in zip(recs, two_waves["stats"]):
        assert rec["scheduled"] == stats["scheduled"] > 0
        assert rec["fetched"] == stats["fetched"] > 0
        assert rec["transport"] == "broadcast"
        assert rec["marks"] == two_waves["engine"].wave_marks[rec["wave"]]
        assert {"fetch+lineage", "new_links_count", "checkpoint"} <= set(rec["marks"])


def test_read_schema_equals_spark_inference(spark, two_waves, jobs):
    """Every crawl table reads with exactly the schema Spark infers from
    the same files; reading a Spark-written table launches no job."""
    eng = two_waves["engine"]
    tables = {
        name: eng.catalog.table(name)
        for name in ("frontier_pending", "seen", "docs_spans", "schedule", "checkpoints")
    }
    tables["minhash_bands"] = eng.dedup_index().minhash_bands
    for name, tbl in tables.items():
        files = tbl.current_snapshot().files
        with jobs.count() as rec:
            df = tbl.read()
        assert df.schema == spark.read.parquet(*files).schema, name
        spark_written = tbl._spark_row_schema(min(files)) is not None
        # checkpoints is written with pyarrow: no stored Spark schema, so
        # it reads exactly as before (with Spark's inference job)
        assert spark_written == (name != "checkpoints"), name
        # (the inference job of the pyarrow-written table shows the
        # counter sees read-time jobs)
        assert rec["jobs"] == (0 if spark_written else 1), name
    assert tables["docs_spans"].read().count() == sum(s["fetched"] for s in two_waves["stats"])


@pytest.fixture(scope="module")
def driver_waves(spark, tmp_path_factory, jobs):
    """The driver-tier twin of ``two_waves``: seeds, then three
    content-dedup waves on the default budget, each wave's job count."""
    eng = FrontierEngine(
        spark, str(tmp_path_factory.mktemp("driver_wave_jobs")),
        CrawlConfig(**CFG, graph=SPEC, content_dedup=True),
    )
    eng.init_seeds(SEEDS)
    out = {"jobs": [], "stats": [], "engine": eng}
    for wave in (1, 2, 3):
        with jobs.count() as rec:
            out["stats"].append(eng.run_wave(wave))
        out["jobs"].append(rec["jobs"])
    return out


def test_driver_wave_runs_no_spark_job(driver_waves):
    """Steady content-dedup waves (the near-dup index is non-empty from
    wave 2 on, and matches are found) on the driver tier run no Spark
    job at all."""
    eng = driver_waves["engine"]
    assert eng.tiers == {"driver": 3}
    assert driver_waves["jobs"] == [0, 0, 0]
    assert all(s["scheduled"] > 0 for s in driver_waves["stats"])
    assert sum(s["content_dups"] for s in driver_waves["stats"][1:]) > 0


def test_driver_written_tables_read_without_jobs(spark, driver_waves, jobs):
    """Every table the driver tier writes carries the Spark row schema in
    its footers, so reading it runs no job, and the schema is the one
    Spark infers from the same files. (checkpoints is written unstamped by
    both tiers.)"""
    eng = driver_waves["engine"]
    tables = {
        name: eng.catalog.table(name)
        for name in ("frontier_pending", "seen", "docs_spans", "schedule", "content_dups")
    }
    tables["minhash_bands"] = eng.dedup_index().minhash_bands
    for name, tbl in tables.items():
        files = tbl.current_snapshot().files
        assert any(f.endswith("/part-0.parquet") for f in files), name
        with jobs.count() as rec:
            df = tbl.read()
        assert rec["jobs"] == 0, name
        assert df.schema == spark.read.parquet(*files).schema, name


@pytest.mark.parametrize("later_sorts_first", [False, True])
def test_read_schema_follows_first_file(spark, tmp_path, monkeypatch, later_sorts_first):
    """A docs table appended before and after the ``wave`` column existed
    reads with the schema of its first file in path order, the file
    Spark's own inference reads: without ``wave`` when the legacy commit
    sorts first, with it when the later commit does."""
    import itertools
    import types

    from crawl4ai_llm_spark import catalog as catalog_mod

    ids = itertools.count()
    step = -1 if later_sorts_first else 1
    monkeypatch.setattr(  # commit directory names, in a chosen sort order
        catalog_mod, "uuid",
        types.SimpleNamespace(
            uuid4=lambda: types.SimpleNamespace(hex=f"{5000 + step * next(ids):08d}")
        ),
    )
    tbl = catalog_mod.Catalog(spark, str(tmp_path)).table("docs_spans")
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, n int"))
    tbl.append(spark.createDataFrame([("b", 2, 7)], "doc_id string, n int, wave int"))
    files = tbl.current_snapshot().files
    got = tbl.read()
    assert got.schema == spark.read.parquet(*files).schema
    assert got.columns == ["doc_id", "n"] + (["wave"] if later_sorts_first else [])
    assert sorted(r["doc_id"] for r in got.collect()) == ["a", "b"]


def _reference_build_blooms(seen, n_buckets):
    """The former distributed build: a shuffle on the bucket, then one
    numpy bitmap per group inside applyInPandas."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(bloom_mod.M_BITS, dtype=bool)
        pos = bloom_mod._positions(pdf["url_hash"].to_numpy())
        bits[pos.ravel().astype(np.int64)] = True
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bloom": [np.packbits(bits).tobytes()]}
        )

    rows = (
        seen.select("url_hash", F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .applyInPandas(build, "bucket int, bloom binary")
        .collect()
    )
    return {r["bucket"]: bytes(r["bloom"]) for r in rows}


@pytest.mark.parametrize(
    "n_hashes,n_buckets", [(0, 64), (40, 64), (3000, 64), (3000, 13), (500, 1)]
)
def test_blooms_from_hashes_equals_distributed_build(spark, jobs, n_hashes, n_buckets):
    """Byte-for-byte the bitmaps of the former applyInPandas build, for
    seeded int64 hashes of both signs (40 hashes leave most of 64 buckets
    empty; 13 buckets is not a power of two)."""
    rng = np.random.default_rng(n_hashes * 100 + n_buckets)
    hashes = rng.integers(-(2**63), 2**63 - 1, size=n_hashes, dtype=np.int64)
    hashes[: n_hashes // 3] = rng.integers(-(2**31), 2**31, size=n_hashes // 3)
    seen = spark.createDataFrame(pd.DataFrame({"url_hash": hashes}), "url_hash long")
    want = _reference_build_blooms(seen, n_buckets)
    got = bloom_mod.blooms_from_hashes(hashes, n_buckets)
    assert got == want
    if 0 < n_hashes < n_buckets:
        assert len(got) < n_buckets  # some buckets are empty
    # streamed in slices and OR-ed, as the engine's first build does
    eng = FrontierEngine.__new__(FrontierEngine)
    eng._blooms = {}
    for part in np.array_split(hashes, 3):
        eng._bloom_or(bloom_mod.blooms_from_hashes(part, n_buckets))
    assert eng._blooms == want
    # the DataFrame entry point collects the hashes: at most one job (a
    # local relation may collect without one), and no shuffle stage
    with jobs.count() as rec:
        assert bloom_mod.build_blooms(seen, n_buckets) == want
    assert rec["jobs"] <= 1 and rec["stages"] == rec["jobs"]


def test_fetch_returns_canonical_links(spark, tmp_path):
    """The fetch batch's links equal ``canonicalize_url`` over the page's
    raw out-links (as a set per page); links it maps to null are gone."""
    rng = random.Random(5)
    pages = sorted(
        {
            wg.canonical_page_url(h, rng.randrange(SPEC.host_pages(h)))
            for h in (rng.randrange(SPEC.n_hosts) for _ in range(80))
        }
    )
    eng = FrontierEngine(spark, str(tmp_path), CrawlConfig(**CFG, graph=SPEC))
    scheduled = spark.createDataFrame(
        [(u, 0, wg.CANON_HOST_FMT.format(h=wg.parse_canonical(u)[0]), 0.5, 0, 1) for u in pages],
        "url string, url_hash long, host string, score double, attempt int, depth int",
    )
    got = {r["url"]: (r["ok"], set(r["links"])) for r in eng._fetch(scheduled).collect()}
    raw = spark.createDataFrame(
        [(u, link) for u in pages for link in wg.out_links(SPEC, u)], "url string, raw string"
    )
    want: dict[str, set] = {u: set() for u in pages}
    for r in raw.select("url", canonicalize_url(F.col("raw")).alias("c")).collect():
        if r["c"] is not None:
            want[r["url"]].add(r["c"])
    assert set(got) == set(pages)
    assert sum(ok for ok, _ in got.values()) >= len(pages) * 0.8
    for u, (ok, links) in got.items():
        assert links == (want[u] if ok else set()), u
    # inputs the UDF maps to null are dropped; the rest keep page order
    junk = [
        "ftp://host1.example/p/1", "not a url", "", "https://", "mailto:a@b.c",
        "http://[::1", "HTTPS://HOST2.Example:443/p/3#x", "http://a.b:80/x/./y/../z?b=2&a=1",
        "https://host1.example/p/1",
    ]
    canon = spark.createDataFrame([(j,) for j in junk], "raw string").select(
        canonicalize_url(F.col("raw")).alias("c")
    )
    udf_out = [r["c"] for r in canon.collect()]
    assert None in udf_out
    assert _canonical_links(junk) == [c for c in udf_out if c is not None]

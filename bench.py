"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], plus a frontier crawl throughput measurement
(the north-star metric: URLs scheduled+fetched per second).

Box-state acceptance gate (VERDICT r04 #1): this sandbox burns 96-99% of
all-core cycles in the KERNEL under concurrent load (identical code then
runs 2-5x slower — /proc/stat + vmstat evidence, BENCH.md r04). The
recorded artifact must therefore never be a degraded-box run presented as
a code measurement. The suite runs up to $SPARK_GRAFT_BENCH_RUNS (default
3) passes; each pass is bracketed by a fixed numpy cpu-state control and
stamped with max(sys_frac before, after). The RECORDED numbers are the
pass with the lowest sys_frac; ALL passes' totals and controls are
embedded in the JSON ("runs"), so the artifact and any narrative built on
it cannot diverge. "box_state_ok" is false when even the best pass ran at
sys_frac >= $SPARK_GRAFT_SYS_FRAC_MAX (default 0.3) — read such a
recording as box evidence, not code evidence.

Output contract (VERDICT r05 #1 — the artifact must be the single,
driver-parseable source):
- The FINAL stdout line is a COMPACT headline JSON (accepted run's
  total + per-query seconds, crawl throughput with its in-run sys
  share, steady-state + storage numbers, a one-line control summary) —
  small enough for the driver's tail capture, so BENCH_r{N}.json's
  `parsed` is never null again.
- The full evidence (every pass, every control, both bracket and
  in-run sys fractions) goes to the sidecar `BENCH_detail_latest.json`
  next to this file.
- The same headline JSON is mirrored verbatim into BENCH.md's
  auto-written section (between `bench-autorow` markers), so the
  narrative's quoted numbers are byte-identical to the artifact by
  construction — they are written by the same invocation.

Box-state acceptance (VERDICT r05 #2): every measured section — each
suite pass AND the crawl — is stamped with its IN-RUN system-time share
(continuous /proc/stat delta across the section's whole wall), the
measurement the r05 scaling gate already used; instant bracket controls
remain as corroboration in the sidecar. In-run is what accepts a pass:
instant controls were measured to miss mid-run degradation windows in
both directions (BENCH.md r04/r05 analysis).

Scaling evidence (north rule: N->4N efficiency >= 0.8) is produced by
tools/bench_scaling.py, which runs the same crawl at local[8] and
local[32] in separate processes and writes BENCH.md. The corpus-scaling
steady-state evidence for the incremental dedup tiers (batch wall vs
1x/4x/10x corpus) is tools/bench_incremental.py; this file reports the
single-corpus steady-state number per round (batch ~2% of corpus — the
shape VERDICT r04 #2 asked for, replacing the all-match whole-corpus
re-crawl as the headline incremental number).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crawl4ai_llm_spark import queries as q
from crawl4ai_llm_spark.operators import dedup, similarity, textops
from crawl4ai_llm_spark.session import default_parallelism, get_spark

HEADLINE = [
    ("q_list_page", q.q_list_page),
    ("q_agg_pricing", q.q_agg_pricing),
    ("q_join_revenue_topn", q.q_join_revenue_topn),
    ("q_join_region_revenue", q.q_join_region_revenue),
    ("q_topk_per_group", q.q_topk_per_group),
    ("q_events_hourly", q.q_events_hourly),
    ("q_sessionize", q.q_sessionize),
    ("q_token_stats", textops.q_token_stats),
    ("q_quality_score", textops.q_quality_score),
    ("q_dedup_exact", dedup.q_dedup_exact),
    ("q_dedup_minhash_lsh", dedup.q_dedup_minhash_lsh),
    ("q_dedup_incremental", dedup.q_dedup_incremental),
    ("q_dedup_simhash", dedup.q_dedup_simhash),
    ("q_dedup_embedding", dedup.q_dedup_embedding),
    ("q_dedup_embedding_incremental", dedup.q_dedup_embedding_incremental),
    ("q_dedup_clusters", dedup.q_dedup_clusters),
    ("q_tfidf_top_terms", textops.q_tfidf_top_terms),
    ("q_ann_topk", similarity.q_ann_topk),
    ("q_ann_lsh_bucketed", similarity.q_ann_lsh_bucketed),
    ("q_ann_multiband", similarity.q_ann_multiband),
]

SYS_FRAC_MAX = float(os.environ.get("SPARK_GRAFT_SYS_FRAC_MAX", "0.3"))
SYS_FRAC_HEALTHY = 0.15  # a pass this clean ends the retry loop early
REPO = os.path.dirname(os.path.abspath(__file__))


def _cpu_jiffies() -> tuple[int, int]:
    """(user+nice, system) jiffies across all cpus — /proc/stat line 1."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[1]) + int(parts[2]), int(parts[3])


class InRunSys:
    """IN-RUN box-state measurement: system-time share of all cpu work
    done during a measured section's entire wall (the r05 scaling gate's
    method, promoted here per VERDICT r05 #2 — instant controls
    bracketing a section miss mid-run degradation windows)."""

    def __enter__(self):
        self.u0, self.s0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc):
        u1, s1 = _cpu_jiffies()
        du, ds = u1 - self.u0, s1 - self.s0
        self.sys_frac = round(ds / max(1, du + ds), 3)
        return False


def cpu_state_control() -> dict:
    """Hardware-state calibration anchor: a fixed numpy uint64
    multiply+mod pass, measured single-threaded AND with all cores busy
    (numpy releases the GIL, so threads are real parallelism). The code
    never changes, so run-to-run variation is pure machine state — this
    box's cores clock down 1.3-1.8x under sustained ALL-CORE load (the
    single-thread number barely moves), which is exactly the regime Spark
    queries run in. Divide cross-round query deltas by the ratio of
    `allcore_sec` before calling them code regressions."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    def one_pass(a, reps: int = 1):
        t0 = time.time()
        for _ in range(reps):
            ((a * np.uint64(2_654_435_761)) % np.uint64(1_000_000_007)).sum()
        return time.time() - t0

    single = np.arange(50_000_000, dtype=np.uint64)
    single_sec = min(one_pass(single) for _ in range(3))  # min: first pass pays faults
    del single

    # per-thread arrays kept small (2M x 8 B = 16 MB; ~1 GB transient with
    # temporaries at 32 threads) so the calibration never swaps/OOMs a box
    # already running Spark — swapping would corrupt the very anchor this
    # measures; reps keep each timed pass long enough to be stable
    def cpu_ticks() -> tuple[int, int]:
        # (user+nice, system) jiffies across all cpus — /proc/stat line 1
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[1]) + int(parts[2]), int(parts[3])

    n = default_parallelism()
    arrays = [np.arange(2_000_000, dtype=np.uint64) for _ in range(n)]
    with ThreadPoolExecutor(max_workers=n) as pool:
        list(pool.map(one_pass, arrays))  # warm pass (faults)
        u0, s0 = cpu_ticks()
        t0 = time.time()
        list(pool.map(lambda a: one_pass(a, reps=4), arrays))
        allcore_sec = time.time() - t0
        u1, s1 = cpu_ticks()
    # sys_frac near 1.0 = the box is burning the load in the KERNEL
    # (scheduler/interrupt pathology measured on this sandbox — identical
    # code then runs 2-5x slower); user-dominated = healthy
    du, ds = u1 - u0, s1 - s0
    return {
        "single_sec": round(single_sec, 3),
        "allcore_sec": round(allcore_sec, 3),
        "allcore_sys_frac": round(ds / max(1, du + ds), 3),
    }


def run_suite(spark, sf_dir: str) -> tuple[dict[str, float], float]:
    """One timed pass over the headline queries (full evaluation via
    count(), no driver-side row transfer)."""
    per_query: dict[str, float] = {}
    total = 0.0
    for name, fn in HEADLINE:
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.time() - t0
        per_query[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.2f}s ({n} rows)", file=sys.stderr)
    return per_query, round(total, 3)


def steady_state_incremental(spark, sf_dir: str) -> dict:
    """Incremental dedup at its REAL shape: a batch ~2% of the corpus
    against the persisted index (VERDICT r04 #2 — the headline
    q_dedup_incremental simulation re-crawls the WHOLE corpus, so every
    stored doc matches and the wall measures the all-match worst case,
    not the steady state the docstring claims). The batch here is every
    50th doc re-crawled under offset ids: batch signature pass + band
    probe + verify all scale with the BATCH, and the corpus-scaling axis
    (flat batch wall at 1x/4x/10x corpus) is tools/bench_incremental.py's
    table in BENCH.md."""
    from pyspark.sql import functions as F

    from crawl4ai_llm_spark.functions import vectors as vx
    from crawl4ai_llm_spark.operators.dedup import INFLUX_OFFSET, load_table

    idx_t = dedup.ensure_text_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.where(F.pmod("doc_id", F.lit(50)) == 0).select(
        (F.col("doc_id") + INFLUX_OFFSET).alias("doc_id"), "text"
    )
    n_corpus, n_batch = docs.count(), batch.count()
    t0 = time.time()
    n_matches = idx_t.match_documents(batch, docs).count()
    text_sec = round(time.time() - t0, 3)

    idx_e = dedup.ensure_embedding_index(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vx.as_double(F.col("embedding")).alias("v")
    )
    vbatch = vecs.where(F.pmod("vec_id", F.lit(50)) == 0).select(
        (F.col("vec_id") + INFLUX_OFFSET).alias("vec_id"), "v"
    )
    t0 = time.time()
    n_vmatches = idx_e.match_embeddings(vbatch, vecs).count()
    emb_sec = round(time.time() - t0, 3)
    out = {
        "text_sec": text_sec,
        "emb_sec": emb_sec,
        "batch_docs": n_batch,
        "corpus_docs": n_corpus,
        "text_matches": n_matches,
        "emb_matches": n_vmatches,
    }
    print(f"# incremental steady state (batch ~2% of corpus): {out}", file=sys.stderr)
    return out


def store_point_lookup(spark, tmpdir: str, n_rows: int = 200_000) -> float:
    """Bucketed point-lookup latency on a populated store: the id's hash
    bucket prunes the read to 1/n of the files (catalog.py bucket layout)."""
    from pyspark.sql import functions as F

    from crawl4ai_llm_spark.storage.store import ProductStore

    store = ProductStore(spark, tmpdir)
    batch = spark.range(n_rows).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("id"),
        F.concat(F.lit("title "), F.col("id").cast("string")).alias("title"),
        (F.col("id") % 997).cast("double").alias("price"),
    )
    store.save_products_df(batch)
    t0 = time.time()
    got = store.get_product(f"p{n_rows // 2}")
    dt = time.time() - t0
    assert got["title"] == f"title {n_rows // 2}"
    return dt


def crawl_throughput(spark, tmpdir: str) -> tuple[float, int, dict]:
    """Frontier crawl on a mid-size seeded graph; returns (urls/s, urls,
    waves per ``run_wave`` tier)."""
    from crawl4ai_llm_spark.frontier import webgraph as wg
    from crawl4ai_llm_spark.frontier.engine import CrawlConfig, FrontierEngine

    # fat waves: measure steady-state scheduling+fetch throughput, not
    # per-wave job-scheduling latency (politeness correctness is covered by
    # the parity tests; at 10^10 URLs a wave holds millions of URLs and the
    # fixed per-wave cost amortizes to zero)
    spec = wg.GraphSpec(
        n_hosts=300, pages_per_host=700, hot_factor=30, max_links=12, seed="bench-42"
    )
    cfg = CrawlConfig(wave_seconds=3600.0, max_depth=5, max_waves=8, graph=spec)
    eng = FrontierEngine(spark, tmpdir, cfg)
    t0 = time.time()
    eng.run(seeds=wg.seed_urls(spec, n_seeds=1000))
    dt = time.time() - t0
    n = eng.schedule.read().count()
    return n / dt, n, dict(eng.tiers)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    max_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    cpus = default_parallelism()
    spark = get_spark(app_name="bench")

    # Pre-warm the session ramp once: parquet-scan init, Python UDF worker
    # forks (pandas/numpy imports), the Arrow string/array serialization
    # paths, and one shuffle — measured ~4-5s combined, paid by whichever
    # queries hit each path first otherwise. A production cluster's
    # executors are long-lived, so steady-state query times — what the
    # per-query numbers claim to measure — never include this one-time
    # ramp. Documented in BENCH.md.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _warm_fn(x):  # no annotations: `from __future__ import annotations`
        # stringifies them, which pandas_udf signature inference rejects
        return x.str.split(" ")

    _warm = pandas_udf(_warm_fn, "array<string>")

    t0 = time.time()
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(cpus)
        .select(F.explode(_warm("text")).alias("w"))
        .groupBy("w")
        .count()
        .count()
    )
    print(f"# session ramp warmup: {time.time() - t0:.2f}s", file=sys.stderr)

    # ingest-time step of the incremental dedup tiers: build (or reuse) the
    # persisted band-key indexes. This is work a production pipeline does as
    # batches ARRIVE — reported separately; the per-query numbers below
    # measure the steady-state batch-vs-stored query, as they should.
    t0 = time.time()
    idx_text = dedup.ensure_text_index(spark, sf_dir)
    idx_emb = dedup.ensure_embedding_index(spark, sf_dir)
    ingest_sec = round(time.time() - t0, 3)
    # fresh-vs-reused stamp (VERDICT r06 #3): a scheme bump forces a fresh
    # re-ingest by design — without this flag that looks like a regression
    ingest_fresh = bool(
        getattr(idx_text, "last_sync_reingested", False)
        or getattr(idx_emb, "last_sync_reingested", False)
    )
    print(
        f"# dedup index ingest: {ingest_sec}s "
        f"({'fresh re-ingest' if ingest_fresh else 'reused'})",
        file=sys.stderr,
    )

    # ---- box-state-gated suite passes (VERDICT r04 #1) -------------------
    # controls[i] brackets pass i on the left and pass i-1 on the right; a
    # pass is stamped with the WORSE of its two brackets, so degradation
    # during the pass is caught by the trailing control.
    controls = [cpu_state_control()]
    print(f"# cpu control (pre run 1): {controls[0]}", file=sys.stderr)
    runs: list[dict] = []
    for i in range(max_runs):
        with InRunSys() as mruns:
            per_query, total = run_suite(spark, sf_dir)
        controls.append(cpu_state_control())
        print(f"# cpu control (post run {i + 1}): {controls[-1]}", file=sys.stderr)
        # acceptance rides the IN-RUN share (the section's own wall);
        # bracket controls are corroboration recorded in the sidecar
        sys_frac = mruns.sys_frac
        runs.append(
            {
                "total_sec": total,
                "queries": per_query,
                "sys_frac": sys_frac,
                "bracket_sys_frac": max(
                    controls[i]["allcore_sys_frac"], controls[i + 1]["allcore_sys_frac"]
                ),
                "control_before": controls[i],
                "control_after": controls[i + 1],
            }
        )
        print(f"# run {i + 1}/{max_runs}: {total}s @ in-run sys_frac {sys_frac}", file=sys.stderr)
        if sys_frac <= SYS_FRAC_HEALTHY:
            break  # clean box, number trustworthy — skip the remaining passes
    accepted = min(range(len(runs)), key=lambda i: (runs[i]["sys_frac"], runs[i]["total_sec"]))
    best = runs[accepted]
    box_ok = best["sys_frac"] < SYS_FRAC_MAX
    if not box_ok:
        print(
            f"# WARNING: no pass ran under sys_frac {SYS_FRAC_MAX} (best "
            f"{best['sys_frac']}) — recording is BOX evidence, not code evidence",
            file=sys.stderr,
        )

    # cold/warm split for the first query: its headline number includes the
    # one-time session/scan warmup; the warm number is what regresses when
    # the plan does (VERDICT r01)
    t0 = time.time()
    q.q_list_page(spark, sf_dir).count()
    warm_list_page = round(time.time() - t0, 3)
    print(f"# q_list_page warm: {warm_list_page:.2f}s", file=sys.stderr)

    steady = steady_state_incremental(spark, sf_dir)

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        lookup_sec = store_point_lookup(spark, tmp)
    print(f"# store point lookup (200k rows, bucketed): {lookup_sec:.3f}s", file=sys.stderr)

    with tempfile.TemporaryDirectory() as tmp:
        with InRunSys() as mcrawl:
            ups, n_urls, crawl_tiers = crawl_throughput(spark, tmp)
    crawl_ctl = cpu_state_control()
    print(
        f"# crawl: {n_urls} urls @ {ups:.0f}/s (in-run sys_frac "
        f"{mcrawl.sys_frac}; instant control after: {crawl_ctl})",
        file=sys.stderr,
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    headline = {
        "metric": "headline query wall time at sf + frontier crawl throughput",
        "value": best["total_sec"],
        "unit": "sec",
        "queries": best["queries"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl_urls_per_sec": round(ups, 1),
        "crawl_urls": n_urls,
        "crawl_run_sys_frac": mcrawl.sys_frac,
        "crawl_wave_tiers": crawl_tiers,
        "q_list_page_warm": warm_list_page,
        "dedup_index_ingest_sec": ingest_sec,
        "dedup_index_ingest_fresh": ingest_fresh,
        "incremental_steady": steady,
        "store_point_lookup_sec": round(lookup_sec, 3),
        "box_state_ok": box_ok,
        "accepted_run": accepted,
        # basis marker (VERDICT r06 #3): "cold" iff the accepted pass is
        # run 0 (no prior suite pass warmed caches/JIT in this session —
        # the session-ramp warmup above runs identically every round).
        # runs[0] is ALWAYS the cold pass, so cold_total_sec/cold_queries
        # make round-over-round cold-vs-cold tables sourceable from the
        # headline artifact alone.
        "accepted_basis": "cold" if accepted == 0 else "warm",
        "cold_total_sec": runs[0]["total_sec"],
        "cold_queries": runs[0]["queries"],
        "accepted_sys_frac": best["sys_frac"],
        "n_runs": len(runs),
        "run_sys_fracs": [r["sys_frac"] for r in runs],
        "sys_frac_max": SYS_FRAC_MAX,
        "cpus": cpus,
        "detail_file": "BENCH_detail_latest.json",
    }
    detail = {
        "headline": headline,
        "runs": runs,
        "controls": controls,
        "crawl_instant_control_after": crawl_ctl,
    }
    # sidecar + BENCH.md mirror: best-effort — the bench result must never
    # die on a write (e.g. a read-only checkout)
    try:
        with open(os.path.join(REPO, "BENCH_detail_latest.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:  # pragma: no cover
        print(f"# WARNING: sidecar write failed: {e}", file=sys.stderr)
    try:
        _mirror_to_bench_md(headline)
    except OSError as e:  # pragma: no cover
        print(f"# WARNING: BENCH.md mirror failed: {e}", file=sys.stderr)
    # the compact headline is the FINAL stdout line — the driver's tail
    # capture parses exactly this object into BENCH_r{N}.json "parsed"
    print(json.dumps(headline))
    spark.stop()


def _mirror_to_bench_md(headline: dict) -> None:
    """Rewrite BENCH.md's auto-section with this invocation's headline —
    verbatim JSON plus a small rendered table. Because the driver's
    BENCH_r{N}.json and this section come from the SAME process output,
    the narrative cannot quote numbers the artifact doesn't contain
    (VERDICT r04/r05 finding #1, closed structurally)."""
    start = "<!-- bench-autorow:start -->"
    end = "<!-- bench-autorow:end -->"
    path = os.path.join(REPO, "BENCH.md")
    qtable = "\n".join(
        f"| {name} | {sec} |" for name, sec in sorted(headline["queries"].items())
    )
    stamp = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())
    section = f"""{start}
## Latest bench.py run (written by bench.py itself — artifact mirror)

Generated {stamp}. This block is byte-identical to the final stdout
line of the same invocation (= the driver's `BENCH_r{{N}}.json`
`parsed` object when the driver ran it); full passes + controls are in
`BENCH_detail_latest.json`. Do not edit by hand.

```json
{json.dumps(headline, indent=1)}
```

Accepted run {headline["accepted_run"]} of {headline["n_runs"]}
(in-run sys_frac {headline["accepted_sys_frac"]}, box_state_ok
{headline["box_state_ok"]}): **{headline["value"]} s** suite total at
sf{headline["sf"]}, crawl **{headline["crawl_urls_per_sec"]} urls/s**
(in-run sys_frac {headline["crawl_run_sys_frac"]}), point lookup
{headline["store_point_lookup_sec"]} s, steady-state incremental text
{headline["incremental_steady"]["text_sec"]} s / embedding
{headline["incremental_steady"]["emb_sec"]} s.

| query | sec |
|---|---|
{qtable}
{end}"""
    md = open(path).read() if os.path.exists(path) else ""
    if start in md and end in md:
        pre, rest = md.split(start, 1)
        _, post = rest.split(end, 1)
        md = pre + section + post
    else:
        md = section + "\n\n" + md
    with open(path, "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()

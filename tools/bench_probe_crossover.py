"""Band-probe ↔ shuffle-join crossover (VERDICT r06 #5).

``DedupIndex.match_documents`` picks its candidate transport by batch
size: below ``BROADCAST_BAND_ROW_BUDGET`` band rows the batch's packed
keys broadcast and the STORED band table is filtered map-side
(_band_member_filter — r07: a boolean pandas UDF, only the packed int64
crosses Arrow); above it, a plain shuffle equi-join. The budget was
asserted from transport arithmetic, not measured. This tool pins it:
the same match, batch size swept across the boundary, BOTH paths forced
at every size (monkey-setting the module gate), identical pair output
asserted, wall clocks reported.

What to expect and why: the probe path's cost is ~flat in batch size
(stored scan + searchsorted against a sorted array that grows slowly)
plus a per-batch collect ∝ batch keys; the shuffle join pays a full
shuffle of BOTH band-row sides but parallelizes the membership work.
The crossover is where the broadcast array's collect+build+probe cost
overtakes the shuffle's fixed cost.

Every leg is stamped with the in-run /proc/stat sys share (the sandbox
swings 2-5x under kernel-time storms; legs with sys > 0.35 should be
re-run before quoting). One JSON line per leg + a summary line.

Usage: python tools/bench_probe_crossover.py [--stored=N] [--batches=a,b,c]
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VOCAB_N = 65536


def make_docs(spark, n, base, dup_every=50):
    """Deterministic synthetic docs; every ``dup_every``-th batch doc is a
    near-copy of a stored doc so both paths do real verify work."""
    from pyspark.sql import functions as F

    vocab_expr = F.concat(F.lit("w"), F.col("w").cast("string"))

    def text_expr(seed_col):
        # 30 words drawn from a per-doc hash stream, JVM-side
        cols = []
        for j in range(30):
            h = F.abs(F.hash(seed_col, F.lit(j))) % VOCAB_N
            cols.append(F.concat(F.lit("w"), h.cast("string")))
        return F.concat_ws(" ", *cols)

    ids = spark.range(base, base + n)
    # dup rows re-derive the text of stored doc (id % dup_every grid)
    seed = F.when(
        (F.col("id") - base) % dup_every == 0, ((F.col("id") - base) / dup_every).cast("long")
    ).otherwise(F.col("id"))
    return ids.select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        text_expr(seed).alias("text"),
    )


def run_leg(spark, idx, stored_docs, batch, n_batch, force: str) -> dict:
    from crawl4ai_llm_spark.operators import dedup_store as ds
    from tools.boxstate import InRun

    old = ds.BROADCAST_BAND_ROW_BUDGET
    ds.BROADCAST_BAND_ROW_BUDGET = 10**12 if force == "probe" else 0
    try:
        prepared = idx.prepare_batch(batch).cache()
        with InRun() as box:
            pairs = idx.match_documents(
                batch, stored_docs, prepared=prepared, n_batch=n_batch
            )
            n_pairs = pairs.count()
        prepared.unpersist()
        return {
            "path": force,
            "n_batch": n_batch,
            "band_rows": n_batch * 32,
            "wall_sec": round(box.wall, 2),
            "pairs": n_pairs,
            "run_sys_frac": box.sys_frac,
        }
    finally:
        ds.BROADCAST_BAND_ROW_BUDGET = old


def main() -> None:
    from crawl4ai_llm_spark.operators.dedup_store import DedupIndex
    from crawl4ai_llm_spark.session import get_spark

    stored_n = 400_000
    batch_sizes = [25_000, 100_000, 250_000, 500_000, 1_000_000]
    for a in sys.argv[1:]:
        if a.startswith("--stored"):
            stored_n = int(a.split("=", 1)[1])
        if a.startswith("--batches"):
            batch_sizes = [int(x) for x in a.split("=", 1)[1].split(",")]

    spark = get_spark(app_name="bench_probe_crossover")
    stored_docs = make_docs(spark, stored_n, 0).cache()
    stored_docs.count()
    wh = tempfile.mkdtemp()
    idx = DedupIndex(spark, wh)
    t0 = time.time()
    idx.ingest_documents(stored_docs)
    print(f"# ingest {stored_n} stored docs: {time.time() - t0:.1f}s", flush=True)
    # warm JIT/UDF with a throwaway match
    warm = make_docs(spark, 1000, 10**9)
    p = idx.prepare_batch(warm).cache()
    idx.match_documents(warm, stored_docs, prepared=p, n_batch=1000).count()
    p.unpersist()

    rows = []
    for n_batch in batch_sizes:
        batch = make_docs(spark, n_batch, 10**7).cache()
        batch.count()
        legs = {}
        for force in ("probe", "shuffle"):
            r = run_leg(spark, idx, stored_docs, batch, n_batch, force)
            legs[force] = r
            rows.append(r)
            print(json.dumps(r), flush=True)
        assert legs["probe"]["pairs"] == legs["shuffle"]["pairs"], (
            "paths disagree at n_batch=%d" % n_batch
        )
        batch.unpersist()
    # crossover: smallest batch where shuffle wins
    cross = next(
        (
            r["n_batch"]
            for r in rows
            if r["path"] == "probe"
            and next(
                x for x in rows if x["path"] == "shuffle" and x["n_batch"] == r["n_batch"]
            )["wall_sec"]
            < r["wall_sec"]
        ),
        None,
    )
    print(
        json.dumps(
            {
                "stored_docs": stored_n,
                "legs": rows,
                "crossover_n_batch": cross,
                "crossover_band_rows": cross * 32 if cross else None,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Driver-tier orig-text read: wall vs corpus footprint (VERDICT r07 #2).

The crawl engine's ``_read_doc_texts`` resolves a FEW matched doc ids'
texts per wave. The pyarrow driver-side scan beats a Spark
filter-collect job on small corpora (no per-action scheduling), but the
doc_id predicate cannot prune row groups (ids are URLs appended in wave
order), so the driver scan reads EVERY live byte — its cost grows with
the corpus while the matched-id count stays wave-sized. This tool
measures both paths at increasing corpus sizes and pins the crossover
that sizes ``DRIVER_TEXT_READ_BYTE_BUDGET`` (the gate above which
``_read_doc_texts`` declines and ``match_documents_driver`` falls back
to the distributed pushdown scan).

Also measures VERDICT r07 #6's compaction row: the same driver read
against the same bytes spread over many files (one per simulated wave)
vs after compaction — snap.files consumers pay per-file open/footer
cost, which compaction bounds.

Usage: python tools/bench_doc_text_read.py [--quick]
Writes/updates the "Driver-tier orig-text read" section in BENCH.md.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_LOOKUP = 50  # matched ids per simulated wave (wave-sized, not corpus-sized)


def build_docs_table(spark, warehouse: str, n_docs: int, n_files: int):
    """A docs-shaped catalog table: (doc_id string, spans, wave int),
    text ~300 chars/doc (the sf1.0 shape), appended in ``n_files``
    wave-commits like a real crawl."""
    from pyspark.sql import functions as F

    from crawl4ai_llm_spark.catalog import Catalog
    from crawl4ai_llm_spark.schemas import SPAN_TYPE

    cat = Catalog(spark, warehouse)
    tbl = cat.table("docs_bench")
    per = max(1, n_docs // n_files)
    for w in range(n_files):
        lo, hi = w * per, min((w + 1) * per, n_docs)
        if lo >= hi:
            break
        df = (
            spark.range(lo, hi)
            .select(
                F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                         F.lit("/p"), F.col("id").cast("string")).alias("doc_id"),
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        F.concat(F.lit("tok"), F.col("id").cast("string"),
                                 F.lit(" lorem ipsum dolor sit amet " * 10)).alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        F.lit(0).alias("offset"),
                    ).cast(SPAN_TYPE)
                ).alias("spans"),
                F.lit(w).alias("wave"),
            )
            .coalesce(1)
        )
        tbl.append(df, counters={"wave": w})
    return tbl


def time_pyarrow_read(tbl, ids: list[str]) -> float:
    import pyarrow.dataset as pads

    snap = tbl.current_snapshot()
    t0 = time.time()
    pads.dataset(snap.files).to_table(
        columns=["doc_id", "spans", "wave"],
        filter=pads.field("doc_id").isin(ids),
    )
    return time.time() - t0


def time_spark_read(spark, tbl, ids: list[str]) -> float:
    from pyspark.sql import functions as F

    df = tbl.read()
    t0 = time.time()
    df.where(F.col("doc_id").isin(ids)).select("doc_id", "spans").toPandas()
    return time.time() - t0


def main() -> None:
    from crawl4ai_llm_spark.session import get_spark

    quick = "--quick" in sys.argv
    spark = get_spark(app_name="bench_doc_text_read")
    sizes = [(20_000, 32), (100_000, 64)] if quick else [
        (20_000, 32), (100_000, 64), (400_000, 128), (1_000_000, 256),
    ]
    rows = []
    for n_docs, n_files in sizes:
        with tempfile.TemporaryDirectory() as tmp:
            tbl = build_docs_table(spark, tmp, n_docs, n_files)
            snap = tbl.current_snapshot()
            total = sum(os.path.getsize(f) for f in snap.files)
            ids = [f"https://h{(i * 37) % 97}/p{i * (n_docs // N_LOOKUP)}" for i in range(N_LOOKUP)]
            pa_s = min(time_pyarrow_read(tbl, ids) for _ in range(3))
            sp_s = min(time_spark_read(spark, tbl, ids) for _ in range(3))
            # compaction row: same bytes, bounded file count
            tbl.compact(8)
            pa_c = min(time_pyarrow_read(tbl, ids) for _ in range(3))
            n_files_c = len(tbl.current_snapshot().files)
            rows.append(
                dict(n_docs=n_docs, n_files=len(snap.files), mb=total / 1e6,
                     pyarrow_s=pa_s, spark_s=sp_s,
                     pyarrow_compacted_s=pa_c, files_compacted=n_files_c)
            )
            print(rows[-1], flush=True)
    spark.stop()

    table = "\n".join(
        f"| {r['n_docs']:,} | {r['n_files']} | {r['mb']:.0f} MB | "
        f"{r['pyarrow_s']:.3f} s | {r['spark_s']:.3f} s | "
        f"{r['pyarrow_compacted_s']:.3f} s ({r['files_compacted']} files) |"
        for r in rows
    )
    section = f"""
## Driver-tier orig-text read: wall vs corpus footprint (tools/bench_doc_text_read.py, r08)

{N_LOOKUP} matched ids per lookup (wave-sized). The pyarrow driver read
scans every live byte (doc_id predicates do not prune wave-ordered row
groups); the Spark path pays ~1 job of scheduling but scans distributed.
The gate `DRIVER_TEXT_READ_BYTE_BUDGET` (default 256 MB,
`SPARK_GRAFT_DRIVER_TEXT_READ_BYTES`) hands the lookup to the
distributed path above the budget — sized from this table: the driver
read's advantage erodes with bytes while the Spark wall stays flat.
The last column re-reads the SAME corpus after `compact(8)` — the
file-count share of the driver read's cost (VERDICT r07 #6).

| corpus docs | live files | bytes | pyarrow driver read | Spark filter+collect | pyarrow after compaction |
|---|---|---|---|---|---|
{table}
"""
    path = os.path.join(REPO, "BENCH.md")
    with open(path) as f:
        content = f.read()
    content = re.sub(
        r"\n## Driver-tier orig-text read[^\n]*\n(?:(?!\n## ).)*",
        "\n",
        content,
        flags=re.DOTALL,
    )
    with open(path, "w") as f:
        f.write(content.rstrip() + "\n" + section)
    print("BENCH.md section written")


if __name__ == "__main__":
    main()

"""``suite`` workload: the 20 headline queries; incremental text matches in
traced runs.

One client, closed loop. Set-up writes the seeded tables and ingests them
into the persisted dedup indexes (``dedup.ensure_text_index`` and
``ensure_embedding_index``, which also start the Python workers). The
measured phase evaluates each headline query once, in a fixed order, by
collecting its full result to Arrow, and checks it against the query's
DuckDB oracle on the same tables. Traced runs then time incremental
matches, each a batch of about 2% of the corpus (the docs whose id falls
in one residue class mod 50, re-sent under new ids) against the text
index; untraced runs leave them out to fit the run budget (see README).
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

from pyspark.sql import functions as F

import checks
import datagen
from tracer import catalog_metrics, cpu_seconds, table_rows

HEADLINE = [
    "q_list_page",
    "q_agg_pricing",
    "q_join_revenue_topn",
    "q_join_region_revenue",
    "q_topk_per_group",
    "q_events_hourly",
    "q_sessionize",
    "q_token_stats",
    "q_quality_score",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_incremental",
    "q_dedup_simhash",
    "q_dedup_embedding",
    "q_dedup_embedding_incremental",
    "q_dedup_clusters",
    "q_tfidf_top_terms",
    "q_ann_topk",
    "q_ann_lsh_bucketed",
    "q_ann_multiband",
]
RESIDUES = 50
MATCHES = 3


class Suite:
    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from crawl4ai_llm_spark import queries
        from crawl4ai_llm_spark.operators import dedup, similarity, textops

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf = os.path.join(run_dir, "data", "sf")
        fns, oracles = {}, {}
        for mod in (queries, textops, dedup, similarity):
            fns.update(mod.QUERIES)
            oracles.update(mod.ORACLES)
        self.fns = {n: fns[n] for n in HEADLINE}
        self.oracles = {n: oracles[n] for n in HEADLINE}
        self.queries: dict[str, dict] = {}  # name -> span
        self.matches: list[dict] = []  # match spans
        self.failed = 0

    # ------------------------------------------------------------------ setup

    def setup(self) -> None:
        from crawl4ai_llm_spark.operators import dedup
        from crawl4ai_llm_spark.operators.dedup_store import JACCARD_TAU

        with self.tracer.span("setup.datagen"):
            docs = datagen.write(self.seed, self.sf)["documents"]
        self.texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        # the DuckDB references run beside the index ingest (DuckDB releases
        # the GIL); they are joined before anything is measured
        refs: dict = {}
        ref_thread = threading.Thread(
            target=lambda: refs.update(checks.duckdb_references(self.sf, self.oracles))
        )
        ref_thread.start()
        try:
            with self.tracer.span("index.ingest"):
                self.index = dedup.ensure_text_index(self.spark, self.sf)
                dedup.ensure_embedding_index(self.spark, self.sf)
            self.docs = self.spark.read.parquet(f"{self.sf}/documents.parquet").select("doc_id", "text")
            self._offset = dedup.INFLUX_OFFSET
            self._tau = JACCARD_TAU
        finally:
            ref_thread.join()
        if len(refs) != len(HEADLINE):
            raise RuntimeError("DuckDB references failed")
        self.refs = refs

    # ---------------------------------------------------------------- measure

    def _match(self, residue: int) -> tuple[bool, int]:
        """(pairs correct, number of pairs) for one incremental batch."""
        batch = self.docs.where(F.pmod("doc_id", F.lit(RESIDUES)) == residue).select(
            (F.col("doc_id") + self._offset).alias("doc_id"), "text"
        )
        rows = self.index.match_documents(batch, self.docs).collect()
        pairs = [(r["new_id"], r["orig_id"], r["jaccard"]) for r in rows]
        batch_of = {d + self._offset: d for d in self.texts if d % RESIDUES == residue}
        return checks.match_is_correct(pairs, batch_of, self.texts, self._tau), len(pairs)

    def run_queries(self, deadline: float | None = None) -> None:
        """Each headline query once, in ``HEADLINE`` order; none starts
        after ``deadline`` (a ``time.perf_counter()`` value)."""
        for name in HEADLINE:
            if deadline is not None and time.perf_counter() > deadline:
                print(f"# deadline: {name} and later queries skipped", flush=True, file=sys.stderr)
                break
            with self.tracer.span(f"q.{name}") as sp:
                tbl = self.fns[name](self.spark, self.sf).toArrow()
            self.queries[name] = sp
            if not checks.same_result(tbl, self.refs[name]):
                print(f"# wrong result: {name}", flush=True, file=sys.stderr)
                self.failed += 1

    def measure(self, seconds: float) -> None:
        """Each headline query once; on a 4-core machine the 20 take longer
        than any ``seconds`` a run is given."""
        cpu0 = cpu_seconds()
        self.run_queries()
        self.cpu_s = cpu_seconds() - cpu0

    def probe(self, deadline: float) -> int:
        """Traced runs only: one unrecorded match (the first of a process
        runs about 20% slower), then up to ``MATCHES`` recorded ones; none
        starts after ``deadline``. Returns the number of wrong match
        results."""
        if time.perf_counter() > deadline:
            return 0
        if not self._match((self.seed - 1) % RESIDUES)[0]:
            raise RuntimeError("warm-up match: wrong pairs")
        wrong = 0
        for i in range(MATCHES):
            if time.perf_counter() > deadline:
                break
            residue = (self.seed + i) % RESIDUES
            with self.tracer.span("index.match_documents", residue=residue) as sp:
                ok, sp["pairs"] = self._match(residue)
            self.matches.append(sp)
            if not ok:
                print(f"# wrong match pairs: residue {residue}", flush=True, file=sys.stderr)
                wrong += 1
        return wrong

    @property
    def attempted(self) -> int:
        return len(self.queries) + len(self.matches)

    def check(self) -> int:
        """Wrong query results; each is checked as soon as it arrives."""
        return self.failed

    def end_to_end(self) -> dict[str, float]:
        suite_s = sum(sp["s"] for sp in self.queries.values())
        return {
            "items_per_s": len(self.queries) / suite_s,
            "cpu_s_per_item": self.cpu_s / len(self.queries),
        }

    def per_layer(self) -> dict[str, float]:
        """Traced runs only: the span job counts exist with tracing on."""
        out: dict[str, float] = {"suite_s": sum(sp["s"] for sp in self.queries.values())}
        for name, sp in self.queries.items():
            out[f"q.{name}.s"] = sp["s"]
            out[f"q.{name}.jobs"] = sp["jobs"]
            out[f"q.{name}.tasks"] = sp["tasks"]
        if self.matches:
            out["match.s_p50"] = statistics.median(sp["s"] for sp in self.matches)
            out["match.pairs"] = statistics.median(sp["pairs"] for sp in self.matches)
            out["match.jobs"] = statistics.median(sp["jobs"] for sp in self.matches)
        out["index.ingest_s"] = next(s["s"] for s in self.tracer.spans if s["name"] == "index.ingest")
        out.update(catalog_metrics({"minhash_bands": self.index.minhash_bands}))
        out["index.band_rows"] = table_rows(self.index.minhash_bands)
        return out


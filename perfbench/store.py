"""``store`` workload: the ``ProductStore`` API, one client, closed loop.

Set-up bulk-loads a seeded product table with ``save_products_df`` into a
fresh 16-bucket store and runs one unrecorded round of operations. The
measured phase runs rounds back to back, each a seeded shuffle of reads
with writes interleaved:

- ``get_product`` (three times) and ``get_products`` (ten ids);
- ``save_products`` (one new id), ``update_products`` (price and category
  of one row), ``delete_products`` (one row);
- ``list_products`` filtered by category, sorted by title, page 2.

A round starts only if it fits in the measured window by the last round's
wall (the first always runs). Each write adds files that later reads look
through, so a write-path change can show in read latency. A shadow model
of the table checks every read, every list total and page, and the return
value of every write.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

from tracer import catalog_metrics, cpu_seconds, table_rows

N_ROWS = 10000
BUCKETS = 16
PAGE_SIZE = 20
CATEGORIES = [f"cat{k:02d}" for k in range(13)]
FIELDS = ("title", "price", "category", "store_name")
OPS = ("get", "get_many", "save", "update", "delete", "list")
ROUND = ["get", "get", "get", "get_many", "save", "update", "delete", "list"]


class Store:
    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from crawl4ai_llm_spark.storage.store import ProductStore

        self.spark, self.tracer, self.run_dir, self.seed = spark, tracer, run_dir, seed
        self.rng = random.Random(f"perfbench-store-{seed}")
        self.store = ProductStore(spark, os.path.join(run_dir, "store"), n_buckets=BUCKETS)
        self.shadow: dict[str, dict] = {}
        self.ids: list[str] = []  # live ids, in a fixed order for seeded picks
        self.next_id = 0
        self.spans: dict[str, list[dict]] = {op: [] for op in OPS}
        self.failed = 0

    def _product(self) -> dict:
        k = self.next_id
        self.next_id += 1
        return {
            "id": f"p{k:07d}",
            "title": f"product {self.rng.randrange(10**9):09d}-{k}",
            "price": self.rng.randrange(100, 100000) / 100.0,
            "category": self.rng.choice(CATEGORIES),
            "store_name": f"store{self.rng.randrange(7)}",
        }

    def _add(self, p: dict) -> None:
        self.shadow[p["id"]] = {f: p[f] for f in FIELDS}
        self.ids.append(p["id"])

    def _same(self, rec: dict) -> bool:
        want = self.shadow.get(rec.get("id"))
        return want is not None and all(rec.get(f) == want[f] for f in FIELDS)

    # ------------------------------------------------------------ operations

    def _get(self) -> bool:
        pid = self.rng.choice(self.ids)
        return self._same(self.store.get_product(pid))

    def _get_many(self) -> bool:
        ids = self.rng.sample(self.ids, 10)
        recs = self.store.get_products(ids)
        return [r["id"] for r in recs] == ids and all(map(self._same, recs))

    def _save(self) -> bool:
        p = self._product()
        ok = self.store.save_products([p]) == [p["id"]]
        self._add(p)
        return ok

    def _update(self) -> bool:
        pid = self.rng.choice(self.ids)
        change = {"price": self.rng.randrange(100, 100000) / 100.0, "category": self.rng.choice(CATEGORIES)}
        ok = self.store.update_products([{"id": pid, **change}]) == 1
        self.shadow[pid].update(change)
        return ok

    def _delete(self) -> bool:
        pid = self.ids.pop(self.rng.randrange(len(self.ids)))
        del self.shadow[pid]
        return self.store.delete_products([pid]) == 1

    def _list(self) -> bool:
        cat = self.rng.choice(CATEGORIES)
        res = self.store.list_products(
            filters={"category": cat}, page=2, page_size=PAGE_SIZE, sort_by="title"
        )
        match = sorted((v["title"], pid) for pid, v in self.shadow.items() if v["category"] == cat)
        want = [pid for _, pid in match[PAGE_SIZE : 2 * PAGE_SIZE]]
        return (
            res.total == len(match)
            and [r["id"] for r in res.products] == want
            and all(map(self._same, res.products))
        )

    def _round(self, recorded: bool) -> None:
        ops = list(ROUND)
        self.rng.shuffle(ops)
        for op in ops:
            fn = getattr(self, f"_{op}")
            if not recorded:
                if not fn():
                    raise RuntimeError(f"store warm-up: wrong {op} result")
                continue
            with self.tracer.span(f"store.{op}") as sp:
                ok = fn()
            self.spans[op].append(sp)
            if not ok:
                print(f"# wrong store result: {op}", flush=True, file=sys.stderr)
                self.failed += 1

    # -------------------------------------------------------------- workload

    def setup(self) -> None:
        rows = [self._product() for _ in range(N_ROWS)]
        # a local DataFrame, not a parquet scan: bulk-loading a scan stores
        # ``_seq`` as int64 where single-row saves write int32, and the next
        # schema-merged read of the table fails
        df = self.spark.createDataFrame(
            [tuple(p[c] for c in ("id",) + FIELDS) for p in rows],
            "id string, title string, price double, category string, store_name string",
        )
        with self.tracer.span("store.save_products_df") as sp:
            n = self.store.save_products_df(df)
        self.ingest = sp
        if n != N_ROWS:
            raise RuntimeError(f"bulk load wrote {n} rows, not {N_ROWS}")
        for p in rows:
            self._add(p)
        with self.tracer.span("warmup.store"):
            self._round(recorded=False)

    def measure(self, seconds: float) -> None:
        t0, cpu0 = time.perf_counter(), cpu_seconds()
        rounds, last = 0, 0.0
        while not rounds or time.perf_counter() - t0 + last <= seconds:
            t = time.perf_counter()
            self._round(recorded=True)
            last = time.perf_counter() - t
            rounds += 1
        self.cpu_s = cpu_seconds() - cpu0

    def check(self) -> int:
        """Wrong store results; each is checked as soon as it arrives."""
        return self.failed

    def probe(self, deadline: float) -> int:
        """No layer probe: traced runs report the store's own layers."""
        return 0

    @property
    def attempted(self) -> int:
        return sum(len(v) for v in self.spans.values())

    def _p50(self) -> dict[str, float]:
        return {op: statistics.median(s["s"] for s in spans) for op, spans in self.spans.items()}

    def end_to_end(self) -> dict[str, float]:
        """Calls per second of a round at each operation's median wall, so
        one slow call moves it less than a plain mean would."""
        p50 = self._p50()
        return {
            "items_per_s": len(ROUND) / sum(p50[op] for op in ROUND),
            "cpu_s_per_item": self.cpu_s / self.attempted,
        }

    def per_layer(self) -> dict[str, float]:
        out = {
            "store.ingest_s": self.ingest["s"],
            "store.ingest_rows_per_s": N_ROWS / self.ingest["s"],
        }
        for op, p50 in self._p50().items():
            out[f"store.{op}_s_p50"] = p50
            out[f"store.{op}.jobs"] = statistics.median(s["jobs"] for s in self.spans[op])
        out.update(catalog_metrics({"products": self.store.table}))
        out["store.bytes_per_row"] = out["catalog.bytes.products"] / table_rows(self.store.table)
        return out

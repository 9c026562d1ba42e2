"""What one ProductStore call pays for beyond its rows: the snapshot it
reads (one HEAD read, no manifest parse while no other writer commits),
the files it decodes (none it wrote itself: its commits fill the memo in
the form a read decodes them to), and the commit it makes (against the
snapshot its read saw, refused when another writer committed since).
"""

from __future__ import annotations

import copy
import os
import random

import pyarrow.parquet as pq
import pytest

from crawl4ai_llm_spark.catalog import Table
from crawl4ai_llm_spark.errors import ProductNotFoundError, StorageError
from tests.test_storage_tiers import _bulk_store, _head_files, _product, _seeded_store


def _new_product(rng: random.Random, k: int) -> dict:
    """An explicit-id product with only the columns every test store holds."""
    p = _product(rng, k)
    fields = ("title", "price", "category", "tags", "attributes")
    return {"id": f"n{k:04d}", **{f: p[f] for f in fields}}


# ------------------------------------------------------ read-your-writes


@pytest.mark.parametrize("origin", ["save", "bulk"])
def test_memo_entries_a_commit_inserts_equal_a_fresh_read(spark, tmp_path, origin):
    """Right after a driver save, update and delete — no read in between —
    every file the commit wrote is in the memo, and the entry equals what
    ``ParquetFile(path).read()`` decodes: schema with its metadata, and
    values. On a store begun by save_products (int32 ``_seq``) and on one
    begun by a bulk load (int64 ``_seq``, list and map columns)."""
    make = _seeded_store if origin == "save" else _bulk_store
    st, ids = make(spark, tmp_path / "wh")
    rng = random.Random(21)
    writes = [
        lambda: st.save_products([_new_product(rng, k) for k in range(3)]),
        lambda: st.update_products([{"id": ids[0], "title": "new", "price": 1.25}]),
        lambda: st.delete_products([ids[1]]),
    ]
    for write in writes:
        before = _head_files(st)
        write()
        written = _head_files(st) - before
        assert written
        for path in written:
            entry = st.table._memo.get(path)
            assert entry is not None, path
            decoded, shaped, _ = entry
            fresh = pq.ParquetFile(path).read()
            assert decoded.schema.equals(fresh.schema, check_metadata=True), path
            assert decoded.equals(fresh), path
            assert shaped is decoded
    assert st.tiers["driver"] == 3
    assert st.get_product(ids[0])["title"] == "new"


# ------------------------------------------------------- commit conflicts


@pytest.mark.parametrize("op", ["save", "update", "delete"])
def test_commit_after_another_writer_raises(spark, tmp_path, monkeypatch, op):
    """A second store commits between the first store's scan and its
    commit: the first store's commit raises StorageError naming the
    snapshot it read and the one HEAD names now, publishes nothing, and
    its next call reads the other writer's snapshot and commits."""
    a, ids = _seeded_store(spark, tmp_path / "wh")
    b = type(a)(spark, a.catalog.warehouse, n_buckets=a.n_buckets)
    rng = random.Random(22)
    call = {
        "save": lambda: a.save_products([_new_product(rng, 1)]),
        "update": lambda: a.update_products([{"id": ids[2], "title": "from a"}]),
        "delete": lambda: a.delete_products([ids[2]]),
    }[op]
    scan = a._arrow_scan

    def scan_then_b_commits(*args, **kwargs):
        out = scan(*args, **kwargs)
        b.update_products([{"id": ids[0], "title": "from b"}])
        return out

    read = a.table.current_snapshot().snapshot_id
    monkeypatch.setattr(a, "_arrow_scan", scan_then_b_commits)
    with pytest.raises(StorageError) as err:
        call()
    assert type(err.value) is StorageError
    assert f"read snapshot {read}, HEAD is now {read + 1}" in str(err.value)
    monkeypatch.undo()
    head = a.table.current_snapshot()
    assert head.snapshot_id == read + 1 and set(head.files) == _head_files(b)
    assert not set(a.table._memo.entries) - set(head.files)
    assert a.get_product(ids[0])["title"] == "from b"
    if op == "save":
        with pytest.raises(ProductNotFoundError):
            a.get_product("n0001")
    else:
        assert a.get_product(ids[2])["title"] == b.get_product(ids[2])["title"] != "from a"
    call()  # against b's snapshot now
    assert a.table.current_snapshot().snapshot_id == read + 2
    assert a.tiers["driver"] >= 1 and b.get_product(ids[0])["title"] == "from b"


def test_commit_replaces_a_manifest_head_never_reached(spark, tmp_path):
    """A publish killed between its manifest and its HEAD swap leaves a
    manifest HEAD never named; the next commit takes that id over."""
    t = Table(spark, str(tmp_path / "t"))
    t.append_pylist([{"x": 1}])
    orphan = os.path.join(t.meta_dir, "snap-2.json")
    with open(orphan, "w") as f:
        f.write('{"snapshot_id": 2, "parent_id": 1, "files": ["gone.parquet"], "counters": {}}')
    snap = t.append_pylist([{"x": 2}], counters={"n": 2})
    assert snap.snapshot_id == 2
    fresh = Table(spark, t.root).current_snapshot()
    assert fresh.files == snap.files and fresh.counters == {"n": 2}
    assert not [n for n in os.listdir(t.meta_dir) if ".tmp-" in n]


def test_snapshot_cache_sees_a_recreated_table(spark, tmp_path):
    """A Table whose cached snapshot id comes back in a dropped and
    re-created table reads the new manifest, not its cache."""
    from crawl4ai_llm_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    old = cat.table("t")
    old.append_pylist([{"x": 1}], counters={"a": 1})
    assert old.current_snapshot().counters == {"a": 1}
    cat.drop("t")
    new = cat.table("t")
    new.append_pylist([{"x": 2}], counters={"bb": 22})
    snap = old.current_snapshot()
    assert snap.snapshot_id == 1 and snap.counters == {"bb": 22}
    assert snap.files == new.current_snapshot().files


# ----------------------------------------------------------- call counters


class _Counters:
    """Monkeypatched counts of a store's fixed per-call work: HEAD reads,
    manifest parses and whole-file parquet decodes (with their paths),
    plus every snapshot ``current_snapshot`` handed out, with a copy of
    it as handed out."""

    def __init__(self, monkeypatch):
        self.head_reads = self.manifest_parses = 0
        self.decoded: list[str] = []
        self.handed: list = []
        counters = self
        read_head, parse, current = Table._read_head, Table.snapshot, Table.current_snapshot

        def counting_read_head(table):
            counters.head_reads += 1
            return read_head(table)

        def counting_parse(table, snapshot_id):
            counters.manifest_parses += 1
            return parse(table, snapshot_id)

        def recording_current(table):
            snap = current(table)
            if snap is not None:
                counters.handed.append((snap, copy.deepcopy(snap)))
            return snap

        class CountingFile(pq.ParquetFile):
            def __init__(self, source, *args, **kwargs):
                super().__init__(source, *args, **kwargs)
                self.source = str(source)

            def read(self, *args, **kwargs):
                counters.decoded.append(self.source)
                return super().read(*args, **kwargs)

        monkeypatch.setattr(Table, "_read_head", counting_read_head)
        monkeypatch.setattr(Table, "snapshot", counting_parse)
        monkeypatch.setattr(Table, "current_snapshot", recording_current)
        monkeypatch.setattr(pq, "ParquetFile", CountingFile)

    def reset(self) -> None:
        self.head_reads = self.manifest_parses = 0
        self.decoded.clear()


def _mix_round(st, rng: random.Random, live: list[str], next_k: list[int]):
    """One round of the store bench's call mix in a seeded order: three
    gets, a ten-id get_products, a one-row save, update and delete, and a
    filtered, sorted list page. Yields after each call."""
    ops = ["get", "get", "get", "get_many", "save", "update", "delete", "list"]
    rng.shuffle(ops)
    for op in ops:
        if op == "get":
            assert st.get_product(rng.choice(live))["id"] in live
        elif op == "get_many":
            want = rng.sample(live, 10)
            assert [r["id"] for r in st.get_products(want)] == want
        elif op == "save":
            live += st.save_products([_new_product(rng, next_k[0])])
            next_k[0] += 1
        elif op == "update":
            st.update_products([{"id": rng.choice(live), "price": rng.randrange(100, 999) / 10}])
        elif op == "delete":
            st.delete_products([live.pop(rng.randrange(len(live)))])
        else:
            res = st.list_products(filters={"category": rng.choice("abc")}, page=2,
                                   page_size=5, sort_by="title")
            assert len(res.products) == min(5, max(0, res.total - 5))
        yield op


def test_steady_calls_pay_one_head_read_and_decode_nothing_written(spark, tmp_path, monkeypatch):
    """Over 20 steady rounds of the bench's call mix, each call reads HEAD
    at most once, no manifest is parsed, and no file is decoded — above
    all no file the store wrote itself. Once another store commits, the
    next call parses exactly that one manifest. No snapshot handed out is
    edited by its callers, and the cached one equals a fresh parse."""
    st, ids = _bulk_store(spark, tmp_path / "wh", n=120, n_buckets=8)
    rng = random.Random(23)
    live, next_k = list(ids), [0]
    for _ in _mix_round(st, rng, live, next_k):  # warm-up: decodes the bulk files
        pass
    counters = _Counters(monkeypatch)
    written: set[str] = set()
    calls = 0
    for _ in range(20):
        before = _head_files(st)
        counters.reset()
        for op in _mix_round(st, rng, live, next_k):
            calls += 1
            assert counters.head_reads <= 1, op
            assert counters.manifest_parses == 0, op
            assert not counters.decoded, op
            written |= _head_files(st) - before
            before = _head_files(st)
            counters.reset()
    assert calls == 160 and len(written) >= 60
    assert set(st.tiers) == {"driver"}

    other = type(st)(spark, st.catalog.warehouse, n_buckets=st.n_buckets)
    other.delete_products([live.pop()])
    counters.reset()
    st.get_product(live[0])
    assert (counters.head_reads, counters.manifest_parses) == (1, 1)
    assert not set(counters.decoded) & written

    for snap, as_handed in counters.handed:
        assert snap == as_handed, snap.snapshot_id
    assert st.table.current_snapshot() == Table(spark, st.table.root).current_snapshot()


"""ProductStore's two tiers for writes and lists: the driver tier (pyarrow
reads of the touched buckets + one Arrow commit, or one whole-table scan
for a list; no Spark job) and the Spark tier it falls through to. Both
must give the same answers, the same errors and files Spark reads back
like its own.
"""

from __future__ import annotations

import random
import uuid

import pytest

from crawl4ai_llm_spark.errors import DuplicateProductError, ProductNotFoundError


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"tiers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _product(rng: random.Random, k: int) -> dict:
    """Explicit, store_sku and url ids in turn; every value a non-empty
    str / float / list / map, so the driver tier can type it."""
    p = {
        "title": f"title {rng.randrange(50):02d}",
        "price": rng.randrange(100, 10000) / 100.0,
        "category": rng.choice(["a", "b", "c"]),
        "tags": [rng.choice(["x", "y", "z"]) for _ in range(rng.randrange(1, 3))],
        "attributes": {"color": rng.choice(["red", "blue"]), "size": str(k % 4)},
    }
    if k % 3 == 0:
        p["id"] = f"e{k:03d}"
    elif k % 3 == 1:
        p.update(store_name="S", sku=f"K{k:03d}")
    else:
        p["url"] = f"https://shop.example/p/{k}"
    return p


def _seeded_store(spark, path, n=24, n_buckets=4):
    """A store whose every bucket holds files (the first save runs on Spark:
    an empty store has no schema to type against)."""
    from crawl4ai_llm_spark.storage import ProductStore

    st = ProductStore(spark, str(path), n_buckets=n_buckets)
    rng = random.Random(7)
    ids = st.save_products([_product(rng, k) for k in range(n)])
    assert st.tiers == {"spark:empty": 1}
    assert {st.table._file_bucket(f) for f in st.table.current_snapshot().files} == set(
        range(n_buckets)
    )
    return st, ids


def _norm(recs: list[dict]) -> list[dict]:
    """Stamps → their dense rank within ``recs``: two runs never share
    clock values, but they must agree on which stamps are equal and on
    their order."""
    stamps = sorted({v for r in recs for v in r["metadata"].values()})
    rank = {s: i for i, s in enumerate(stamps)}
    return [{**r, "metadata": {k: rank[v] for k, v in r["metadata"].items()}} for r in recs]


def _outcome(fn):
    try:
        return ("ok", fn())
    except DuplicateProductError as e:
        return ("dup", e.dup_ids, e.truncated)
    except ProductNotFoundError as e:
        return ("missing", e.missing_ids)


def _run_mix(st, ids: list[str], seed: int) -> list:
    """A seeded mix of saves, updates (explicit None and repeated ids
    included), deletes and error cases; returns every outcome plus the
    final table as seen by get_products and list_products."""
    rng = random.Random(seed)
    live = list(ids)
    next_k = 100
    trace = []
    for _ in range(40):
        op = rng.choice(
            ["save", "save", "save_dup", "save_intra", "update", "update", "update",
             "update_missing", "delete", "delete_missing", "get_many"]
        )
        if op in ("save", "save_dup", "save_intra"):
            batch = [_product(rng, next_k + j) for j in range(rng.randrange(1, 4))]
            next_k += len(batch)
            if op == "save_dup":
                batch.append({"id": rng.choice(live), "title": "clash"})
            if op == "save_intra":
                batch.append(dict(batch[0]))
            out = _outcome(lambda: st.save_products(batch))
            if out[0] == "ok":
                live += out[1]
        elif op in ("update", "update_missing"):
            targets = rng.sample(live, rng.randrange(1, 3))
            if rng.random() < 0.3:
                targets.append(targets[0])  # repeated id: folds in order
            payload = []
            for t in targets:
                u = {"id": t}
                for f in rng.sample(["title", "price", "category", "tags", "attributes"], 2):
                    u[f] = None if rng.random() < 0.25 else _product(rng, 0)[f]
                payload.append(u)
            if op == "update_missing":
                payload.append({"id": "ghost", "title": "x"})
            out = _outcome(lambda: st.update_products(payload))
        elif op == "delete":
            gone = rng.sample(live, 1 if len(live) < 10 else 2)
            out = _outcome(lambda: st.delete_products(gone))
            live = [i for i in live if i not in gone]
        elif op == "delete_missing":
            out = _outcome(lambda: st.delete_products([rng.choice(live), "ghost"]))
        else:
            want = rng.sample(live, 3) + (["ghost"] if rng.random() < 0.3 else [])
            out = _outcome(lambda: _norm(st.get_products(want)))
        trace.append((op, out))
    trace.append(("final_get", _norm(st.get_products(sorted(live)))))
    listed = st.list_products(page_size=1000, sort_by="title")
    trace.append(("final_list", listed.total, _norm(listed.products)))
    return trace


def test_driver_tier_writes_run_no_spark_jobs(spark, tmp_path):
    st, ids = _seeded_store(spark, tmp_path / "wh")
    rng = random.Random(3)
    saved, jobs = _spark_jobs(spark, lambda: st.save_products([_product(rng, 90)]))
    assert jobs == 0
    n, jobs = _spark_jobs(spark, lambda: st.update_products([{"id": ids[0], "price": 1.25}]))
    assert (n, jobs) == (1, 0)
    n, jobs = _spark_jobs(spark, lambda: st.delete_products([ids[1]]))
    assert (n, jobs) == (1, 0)
    _, jobs = _spark_jobs(spark, lambda: st.get_products([ids[0], saved[0]]))
    assert jobs == 0
    assert st.tiers == {"spark:empty": 1, "driver": 3}
    assert st.get_product(ids[0])["price"] == 1.25
    assert st.list_products().total == len(ids)


def test_tier_parity_seeded_mix(spark, tmp_path):
    """The same seeded mix on the driver tier and on the Spark tier (forced
    by a zero file budget, as in test_point_lookup_arrow_path_matches_spark)
    returns equal results, raises equal errors and leaves equal tables."""
    driver, ids = _seeded_store(spark, tmp_path / "driver")
    via_driver = _run_mix(driver, ids, seed=11)
    assert set(driver.tiers) == {"spark:empty", "driver"}

    forced, ids2 = _seeded_store(spark, tmp_path / "spark")
    forced.ARROW_LOOKUP_MAX_FILES = 0
    via_spark = _run_mix(forced, ids2, seed=11)
    assert "driver" not in forced.tiers

    assert ids == ids2
    ops = {t[0] for t in via_driver}
    assert {"save_dup", "save_intra", "update_missing", "delete_missing"} <= ops
    for a, b in zip(via_driver, via_spark):
        assert a == b, a[0]
    assert len(via_driver) == len(via_spark)


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_update_repeated_id_folds_in_order(spark, tmp_path, tier):
    """A batch naming one id twice applies both payloads in order
    ({**existing, **u1, **u2}) to ONE row — it used to duplicate the row."""
    st, ids = _seeded_store(spark, tmp_path / tier)
    if tier == "spark":
        st.ARROW_LOOKUP_MAX_FILES = 0
    before = st.get_product(ids[0])
    n = st.update_products(
        [
            {"id": ids[0], "title": "x", "category": "first"},
            {"id": ids[0], "title": "y", "price": None},
        ]
    )
    assert n == 2
    assert st.tiers[tier if tier == "driver" else "spark:files"] == 1
    got = st.get_product(ids[0])
    assert (got["title"], got["category"], got["price"]) == ("y", "first", None)
    assert got["tags"] == before["tags"]
    listed = st.list_products(page_size=100)
    assert listed.total == len(ids)
    assert [p["title"] for p in listed.products if p["id"] == ids[0]] == ["y"]


def _bulk_store(spark, path, n=24, n_buckets=4):
    """A store bulk-loaded through save_products_df, whose ``_seq`` Spark
    writes as int64 (a save-started store gets int32)."""
    from crawl4ai_llm_spark.storage import ProductStore

    st = ProductStore(spark, str(path), n_buckets=n_buckets)
    rng = random.Random(7)
    rows = [{**_product(rng, k), "id": f"b{k:03d}"} for k in range(n)]
    cols = ("id", "title", "price", "category", "tags", "attributes")
    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "id string, title string, price double, category string, "
        "tags array<string>, attributes map<string,string>",
    )
    assert st.save_products_df(df) == n
    return st, [r["id"] for r in rows]


@pytest.mark.parametrize("origin,seq_type", [("save", "INT32"), ("bulk", "INT64")])
def test_driver_written_files_read_back_through_spark(spark, tmp_path, origin, seq_type):
    """Files committed by the driver tier are read by Spark like its own:
    list_products' mergeSchema read, compact(), the bulk tier's duplicate
    check and get_product all agree, and the parquet physical schema is
    Spark's (INT96 stamps, the store's ``_seq`` width, no stored Arrow or
    Spark schema)."""
    import pyarrow.parquet as pq

    make = _seeded_store if origin == "save" else _bulk_store
    st, ids = make(spark, tmp_path / "wh")
    spark_files = set(st.table.current_snapshot().files)
    rng = random.Random(5)
    # both origins store these keys (the bulk load has no sku / url)
    keys = ("title", "price", "category", "tags", "attributes")
    new_ids = st.save_products(
        [{"id": f"n{k}", **{c: _product(rng, k)[c] for c in keys}} for k in range(3)]
    )
    st.update_products(
        [{"id": ids[2], "title": None, "tags": ["q"]}, {"id": new_ids[0], "price": 2.5}]
    )
    st.delete_products([ids[3]])
    assert st.tiers["driver"] == 3

    live = sorted(set(ids + new_ids) - {ids[3]})
    by_get = st.get_products(live)
    listed = st.list_products(page_size=100, sort_by="title")
    assert listed.total == len(live)
    assert sorted(listed.products, key=lambda r: r["id"]) == by_get

    def physical(f):
        s = pq.ParquetFile(f).schema
        return {s.column(i).path: s.column(i).physical_type for i in range(len(s))}

    spark_types: dict[str, str] = {}
    for f in spark_files:
        spark_types.update(physical(f))
    driver_files = set(st.table.current_snapshot().files) - spark_files
    assert driver_files and all(f.endswith("/part-0.parquet") for f in driver_files)
    for f in driver_files:
        types = physical(f)
        assert types["metadata.created_at"] == types["metadata.updated_at"] == "INT96"
        assert types["_seq"] == seq_type
        assert {p: spark_types[p] for p in types} == types
        assert pq.ParquetFile(f).metadata.metadata is None

    df = spark.createDataFrame([(new_ids[1], "t")], "id string, title string")
    with pytest.raises(DuplicateProductError) as ei:
        st.save_products_df(df)
    assert ei.value.dup_ids == [new_ids[1]]

    st.compact()
    assert st.get_products(live) == by_get
    after = st.list_products(page_size=100, sort_by="title")
    assert after.products == listed.products
    assert st.get_product(ids[2])["tags"] == ["q"]


def test_commit_arrow_buckets_refuses_misplaced_rows_and_legacy_files(spark, tmp_path):
    """replace_buckets' invariants hold for the Arrow commit: a row filed
    under a bucket its id does not hash to, or a table holding legacy
    unbucketed files, raises before anything is written or published."""
    import pyarrow as pa

    st, ids = _seeded_store(spark, tmp_path / "wh")
    home = st._buckets_of([ids[0]]).pop()
    row = pa.table({"id": [ids[0]], "title": ["t"]})
    head = st.table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="does not belong in bucket"):
        st.table.commit_arrow_buckets({(home + 1) % 4: row}, replace=True)
    assert st.table.current_snapshot().snapshot_id == head
    _legacy_layout(spark, st)
    head = st.table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="compact first"):
        st.table.commit_arrow_buckets({home: row}, replace=False)
    assert st.table.current_snapshot().snapshot_id == head


def _legacy_layout(spark, st):
    from crawl4ai_llm_spark.catalog import Catalog

    raw = Catalog(spark, st.catalog.warehouse).table("products", merge_schema=True)
    raw.overwrite(st.table.read(), counters=st.table.current_snapshot().counters)


def _schema_split(spark, st):
    # caller metadata in one file of a bucket: a struct pyarrow will not
    # unify with the plain {created_at, updated_at} one (Spark merges it)
    st.save_products([{"id": "m0", "title": "t", "metadata": {"source": "s"}}])


# reason → (store set-up, the write that must fall through, its check)
FALLBACKS = {
    "empty": (
        None,
        lambda st, ids: st.save_products([{"id": "n0", "title": "t"}]),
        lambda st, ids: st.get_product("n0")["title"] == "t",
    ),
    "files": (
        lambda spark, st: setattr(st, "ARROW_LOOKUP_MAX_FILES", 0),
        lambda st, ids: st.update_products([{"id": ids[0], "title": "u"}]),
        lambda st, ids: st.get_product(ids[0])["title"] == "u",
    ),
    "legacy": (
        _legacy_layout,
        lambda st, ids: st.save_products([{"id": "n0", "title": "t"}]),
        lambda st, ids: st.get_product("n0")["title"] == "t",
    ),
    "schema": (
        _schema_split,
        lambda st, ids: st.update_products([{"id": ids[0], "title": "u"}]),
        lambda st, ids: st.get_product(ids[0])["title"] == "u",
    ),
    "key": (
        None,
        lambda st, ids: st.update_products([{"id": ids[0], "brand_new": "v"}]),
        lambda st, ids: st.get_product(ids[0])["brand_new"] == "v",
    ),
    "metadata": (
        None,
        lambda st, ids: st.save_products([{"id": "n0", "title": "t", "metadata": {"source": "s"}}]),
        lambda st, ids: st.get_product("n0")["metadata"]["source"] == "s",
    ),
    "id": (
        None,
        lambda st, ids: st.save_products([{"title": "no id, sku or url"}]),
        lambda st, ids: st.list_products(filters={"title": "no id, sku or url"}).total == 1,
    ),
    "type": (
        None,
        lambda st, ids: st.update_products([{"id": ids[0], "price": 5}]),
        lambda st, ids: st.get_product(ids[0])["price"] == 5.0,
    ),
}


@pytest.mark.parametrize("reason", sorted(FALLBACKS))
def test_fallback_runs_spark_tier(spark, tmp_path, reason):
    """Each case the driver tier cannot reproduce exactly falls through to
    the Spark tier — it runs Spark jobs, gives the right result, and is
    counted as ``spark:<reason>``."""
    from crawl4ai_llm_spark.storage import ProductStore

    prepare, write, check = FALLBACKS[reason]
    if reason == "empty":
        st, ids = ProductStore(spark, str(tmp_path / "wh"), n_buckets=4), []
    else:
        st, ids = _seeded_store(spark, tmp_path / "wh", n=8, n_buckets=1)
    if prepare is not None:
        prepare(spark, st)
    before = st.tiers.copy()
    _, jobs = _spark_jobs(spark, lambda: write(st, ids))
    assert jobs > 0
    assert st.tiers - before == {f"spark:{reason}": 1}
    assert check(st, ids)


# --------------------------------------------------------------- list tiers


def _list_product(k: int) -> dict:
    return {
        "id": f"i{k:02d}",
        "title": f"t{k % 5}",
        "category": "abc"[k % 3],
        "qty": k % 4,
        "price": [2.5, 12.0, 7.25][k % 3],
        "active": k % 2 == 0,
        "tags": ["x", "y"] if k % 2 else ["x"],
        "attributes": {"color": "red" if k % 2 else "blue"},
    }


@pytest.fixture(scope="module")
def list_store(spark, tmp_path_factory):
    """A store holding Spark-written and driver-written files, with string,
    int, float, bool, list and map columns, a missing title and a ``rank``
    column that only some buckets' files carry."""
    from crawl4ai_llm_spark.storage import ProductStore

    st = ProductStore(spark, str(tmp_path_factory.mktemp("list") / "wh"), n_buckets=4)
    st.save_products([_list_product(k) for k in range(12)])
    st.save_products([_list_product(k) for k in range(12, 20)])
    st.update_products([{"id": "i03", "title": None}, {"id": "i14", "category": "a"}])
    st.save_products([{**_list_product(k), "rank": f"r{k % 3}"} for k in (20, 21)])
    st.save_products([_list_product(k) for k in range(22, 26)])
    assert st.tiers == {"spark:empty": 1, "driver": 3, "spark:key": 1}
    return st


def _same_table(st, forced: bool = True, **kw):
    """A second store over the same table; ``forced`` makes its driver
    tier always decline (a zero file budget)."""
    from crawl4ai_llm_spark.storage import ProductStore

    other = ProductStore(st.spark, st.catalog.warehouse, n_buckets=st.n_buckets, **kw)
    if forced:
        other.ARROW_LOOKUP_MAX_FILES = 0
    return other


LIST_FILTERS = {
    "all": None,
    "str": {"category": "a"},
    "int": {"qty": 2},
    "int_by_float": {"qty": 2.0},
    "int_by_fraction": {"qty": 2.5},
    "float": {"price": 12.0},
    "float_by_int": {"price": 12},
    "bool": {"active": True},
    "two_keys": {"category": "b", "active": False},
    "none_value": {"category": None},
    "unknown_field": {"nope": "x"},
    "some_buckets": {"rank": "r2"},
    "mismatch_str": {"category": 5},
    "mismatch_int": {"qty": "2"},
    "mismatch_bool": {"active": 1},
    "dotted": {"attributes.color": "red"},
    "list_value": {"tags": ["x", "y"]},
}
LIST_SORTS = [
    (None, "asc"),
    ("title", "asc"),  # one title missing: sorts as ""
    ("title", "desc"),
    ("rank", "desc"),  # absent from most files
    ("absent", "asc"),  # no such column: save order
    ("category", "desc"),  # equal keys: _seq breaks the ties
    ("price", "asc"),  # numeric: Spark's cast-to-string order
]
LIST_PAGES = [(1, 4), (2, 4), (9, 4)]  # first, middle, past the end


def _list_reason(filters, sort_by) -> str | None:
    if sort_by == "price":
        return "sort"
    if filters in (LIST_FILTERS["dotted"], LIST_FILTERS["list_value"]):
        return "filter"
    return None


@pytest.mark.parametrize("name", sorted(LIST_FILTERS))
def test_list_tier_parity(spark, list_store, name):
    """Every sort and page of one filter: the driver tier returns exactly
    the ListResult of the Spark tier, product order included, with no
    Spark job — or declines, counted, and runs the Spark tier."""
    filters = LIST_FILTERS[name]
    forced = _same_table(list_store)
    shift = sorted(LIST_FILTERS).index(name)  # every sort meets every page
    for i, (sort_by, order) in enumerate(LIST_SORTS):
        page, size = LIST_PAGES[(i + shift) % len(LIST_PAGES)]
        kw = dict(filters=filters, page=page, page_size=size, sort_by=sort_by, sort_order=order)
        before = list_store.tiers.copy()
        got, jobs = _spark_jobs(spark, lambda: list_store.list_products(**kw))
        want = forced.list_products(**kw)
        assert got == want, (sort_by, order, page)
        reason = _list_reason(filters, sort_by)
        if reason is None:
            assert (list_store.tiers - before, jobs) == ({"driver": 1}, 0)
        else:
            assert list_store.tiers - before == {f"spark:{reason}": 1}
            assert jobs > 0
    assert set(forced.tiers) == {"spark:files"}


def test_list_tier_parity_covers_the_cases(spark, list_store):
    """The parity matrix reaches what it claims: pages past the end, ties,
    missing sort values, columns only some files carry, and every filter
    kind that matches rows."""
    everything = list_store.list_products(page_size=100)
    assert everything.total == 26
    recs = {p["id"]: p for p in everything.products}
    assert recs["i03"]["title"] is None and recs["i00"]["rank"] is None
    assert recs["i20"]["rank"] == "r2"
    assert list_store.list_products(page=9, page_size=4).products == []
    for name in ("str", "int", "int_by_float", "float", "float_by_int", "bool", "some_buckets"):
        assert list_store.list_products(filters=LIST_FILTERS[name]).total > 0, name
    assert list_store.list_products(filters={"qty": 2.5}).total == 0
    ties = list_store.list_products(page_size=100, sort_by="category")
    assert [p["id"] for p in ties.products if p["category"] == "a"] == [
        f"i{k:02d}" for k in (0, 3, 6, 9, 12, 14, 15, 18, 21, 24)
    ]


def test_list_tier_parity_compat_mode(spark, list_store):
    """compat_mode narrows the filter surface on both tiers alike: a field
    outside the reference's index matches nothing, on the driver."""
    compat = _same_table(list_store, forced=False, compat_mode=True)
    forced = _same_table(list_store, compat_mode=True)
    for filters, tier in (
        ({"category": "a"}, "driver"),
        ({"title": "t1"}, "driver"),
        ({"metadata.source": "s"}, "spark:filter"),
    ):
        got, jobs = _spark_jobs(spark, lambda: compat.list_products(filters=filters, sort_by="title"))
        assert got == forced.list_products(filters=filters, sort_by="title")
        assert (jobs == 0) == (tier == "driver")
    assert compat.list_products(filters={"category": "a"}).total == 0
    assert compat.list_products(filters={"title": "t1"}).total == 5
    assert compat.tiers == {"driver": 4, "spark:filter": 1}


def test_list_empty_store_runs_no_spark_job(spark, tmp_path):
    from crawl4ai_llm_spark.storage import ProductStore

    st = ProductStore(spark, str(tmp_path / "wh"))
    res, jobs = _spark_jobs(spark, lambda: st.list_products(filters={"a": 1}, sort_by="b"))
    assert (res.products, res.total, res.total_pages, jobs) == ([], 0, 1, 0)
    assert st.tiers == {"driver": 1}


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_list_rejects_bad_page_arguments(spark, tmp_path, tier):
    """page or page_size below 1 raise ValueError on both tiers (they used
    to raise AnalysisException or ZeroDivisionError)."""
    st, _ = _seeded_store(spark, tmp_path / tier, n=8, n_buckets=1)
    if tier == "spark":
        st.ARROW_LOOKUP_MAX_FILES = 0
    before = st.tiers.copy()
    for kw in ({"page": 0}, {"page": -1}, {"page_size": 0}, {"page_size": -3}):
        with pytest.raises(ValueError, match="page"):
            st.list_products(**kw)
    assert st.tiers == before


def _over_budget_rows(spark, st):
    st.ARROW_LIST_MAX_ROWS = 7  # the store holds 8


# reason → (store set-up, the list call that must fall through)
LIST_FALLBACKS = {
    "files": (lambda spark, st: setattr(st, "ARROW_LOOKUP_MAX_FILES", 0), {}),
    "schema": (lambda spark, st: _schema_split(spark, st), {}),
    "rows": (_over_budget_rows, {}),
    "filter": (None, {"filters": {"attributes.color": "red"}}),
    "sort": (None, {"sort_by": "price"}),
}


@pytest.mark.parametrize("reason", sorted(LIST_FALLBACKS))
def test_list_fallback_runs_spark_tier(spark, tmp_path, reason):
    """Each list the driver tier cannot answer exactly runs on Spark, gives
    the Spark tier's result and is counted as ``spark:<reason>``."""
    prepare, kw = LIST_FALLBACKS[reason]
    st, ids = _seeded_store(spark, tmp_path / "wh", n=8, n_buckets=1)
    if prepare is not None:
        prepare(spark, st)
    before = st.tiers.copy()
    got, jobs = _spark_jobs(spark, lambda: st.list_products(page_size=5, **kw))
    assert jobs > 0
    assert st.tiers - before == {f"spark:{reason}": 1}
    page_df, total = st.list_products_df(page_size=5, **kw)
    assert got.total == total > 0
    assert got.products == [r.asDict(recursive=True) for r in page_df.collect()]


# --------------------------------------------------------- save regressions


def _seq_types(st) -> set:
    import pyarrow.parquet as pq

    return {
        str(pq.read_schema(f).field("_seq").type) for f in st.table.current_snapshot().files
    }


def _read_back_on_both_tiers(st, ids: list[str]) -> None:
    forced = _same_table(st)
    for reader in (st, forced):
        assert [r["id"] for r in reader.get_products(ids)] == ids
        listed = reader.list_products(page_size=100, sort_by="title")
        assert listed.total == len(ids)
    assert listed == st.list_products(page_size=100, sort_by="title")


def test_bulk_load_into_save_started_store_keeps_seq_width(spark, tmp_path):
    """save_products then save_products_df used to leave int32 and int64
    ``_seq`` files, after which every read raised CANNOT_MERGE_SCHEMAS."""
    st, ids = _seeded_store(spark, tmp_path / "wh", n=8, n_buckets=1)
    df = spark.createDataFrame(
        [(f"b{k:02d}", f"bulk {k}", float(k)) for k in range(20)],
        "id string, title string, price double",
    )
    assert st.save_products_df(df) == 20
    assert _seq_types(st) == {"int32"}
    assert st.table.current_snapshot().counters["max_seq"] == 28
    ids += [f"b{k:02d}" for k in range(20)]
    _read_back_on_both_tiers(st, ids)
    before = st.tiers.copy()
    ids += st.save_products([{"id": "after", "title": "t", "price": 1.0}])
    assert st.tiers - before == {"driver": 1}
    _read_back_on_both_tiers(st, ids)
    seqs = [r["_seq"] for r in st.table.read().select("_seq").collect()]
    assert sorted(seqs) == list(range(1, 30))


def test_spark_save_into_bulk_started_store_keeps_seq_width(spark, tmp_path):
    """A Spark-tier save after a bulk load writes int64 ``_seq`` like the
    bulk files (the dense bulk numbering leaves next_seq small enough that
    an uncast literal would be int32)."""
    st, ids = _bulk_store(spark, tmp_path / "wh", n=24)
    assert _seq_types(st) == {"int64"}
    assert st.table.current_snapshot().counters["max_seq"] == 24
    ids += st.save_products([{"id": "new", "title": "t", "brand": "b"}])
    assert st.tiers == {"spark:key": 1}
    assert _seq_types(st) == {"int64"}
    _read_back_on_both_tiers(st, ids)


@pytest.mark.parametrize("origin", ["empty", "seeded"])
def test_save_drops_all_none_keys(spark, tmp_path, origin):
    """A key that is None in every record is dropped before either tier
    (absent ≡ None): it used to raise CANNOT_DETERMINE_TYPE on Spark, and
    a seeded store now takes the driver tier."""
    from crawl4ai_llm_spark.storage import ProductStore

    if origin == "empty":
        st = ProductStore(spark, str(tmp_path / "wh"), n_buckets=4)
    else:
        st, _ = _seeded_store(spark, tmp_path / "wh", n=8, n_buckets=1)
    before = st.tiers.copy()
    assert st.save_products(
        [{"id": "a", "title": "t", "brand": None}, {"id": "b", "title": None, "brand": None}]
    ) == ["a", "b"]
    assert st.tiers - before == {"spark:empty" if origin == "empty" else "driver": 1}
    got = st.get_products(["a", "b"])
    assert [(g["title"], g.get("brand")) for g in got] == [("t", None), (None, None)]


# ------------------------------------------------------- update regressions


@pytest.mark.parametrize("tier", ["default", "spark"])
def test_update_never_widens_a_stored_column(spark, tmp_path, tier):
    """A value its stored column cannot hold (2.5 or True into an int64
    column, "abc" into a double one) raises ValueError naming the id and
    key, and publishes nothing. Such an update used to rewrite its bucket
    with a widened column, after which list_products, list_products_df and
    compact() all raised CANNOT_MERGE_SCHEMAS. A value the column can hold
    (5 into a double column) is still stored in the column's type."""
    from crawl4ai_llm_spark.storage import ProductStore

    st = ProductStore(spark, str(tmp_path / "wh"))
    ids = st.save_products(
        [{"id": f"w{k}", "title": f"t{k}", "qty": k, "price": 1.5 * k} for k in range(6)]
    )
    if tier == "spark":
        st.ARROW_LOOKUP_MAX_FILES = 0
    for key, value in (("qty", 2.5), ("price", "abc"), ("qty", True)):
        head = st.table.current_snapshot().snapshot_id
        with pytest.raises(ValueError, match=f"'{ids[1]}'.*{key}="):
            st.update_products([{"id": ids[1], key: value}])
        assert st.table.current_snapshot().snapshot_id == head
    assert st.update_products([{"id": ids[1], "price": 5}]) == 1
    got = st.get_product(ids[1])
    assert (got["qty"], got["price"]) == (1, 5.0) and type(got["price"]) is float
    assert st.list_products(page_size=10).total == 6
    page_df, total = st.list_products_df(page_size=10)
    assert (total, page_df.count()) == (6, 6)
    st.compact()
    assert st.get_products(ids)[1] == got


def test_commit_arrow_buckets_refuses_a_null_key(spark, tmp_path):
    """A null key belongs in no bucket: the per-row check raises its
    ValueError (it used to be an AttributeError from the hash) and
    publishes nothing."""
    import pyarrow as pa

    st, _ = _seeded_store(spark, tmp_path / "wh")
    row = pa.table({"id": pa.array([None], pa.string()), "title": ["t"]})
    head = st.table.current_snapshot().snapshot_id
    for k in range(4):
        with pytest.raises(ValueError, match="does not belong in bucket"):
            st.table.commit_arrow_buckets({k: row}, replace=False)
    assert st.table.current_snapshot().snapshot_id == head


# ------------------------------------------------------- decoded-file memo


def _memo_paths(st) -> set[str]:
    return set(st.table._memo.entries)


def _head_files(st) -> set[str]:
    """The live files, read without current_snapshot (which prunes the
    memo): HEAD is always the newest manifest."""
    return set(st.table.snapshots()[-1].files)


def _reads(st, ids: list[str]):
    """A point read, a batch read and two lists — all on the driver tier,
    with no Spark job."""
    got, jobs = _spark_jobs(
        st.spark,
        lambda: (
            st.get_product(ids[0]),
            st.get_products(sorted(ids)),
            st.list_products(page_size=1000, sort_by="title"),
            st.list_products(filters={"category": "a"}, page=2, page_size=3, sort_by="title"),
        ),
    )
    assert jobs == 0
    return got


def test_memo_reads_equal_a_cold_memo(spark, tmp_path):
    """After each kind of commit — driver save, update and delete, Spark
    compact, rollback, expire_snapshots — a store whose memo is warm
    reads exactly what a store with an empty memo reads, and its memo
    holds no file outside the current snapshot."""
    st, ids = _seeded_store(spark, tmp_path / "wh")
    rng = random.Random(13)
    live = list(ids)
    _reads(st, live)
    assert _memo_paths(st) == _head_files(st)
    marks = {}

    def save():
        live.extend(st.save_products([_product(rng, 300 + k) for k in range(3)]))

    def delete():
        st.delete_products([live.pop(3)])
        marks["before_compact"] = st.table.current_snapshot().snapshot_id

    steps = [
        ("save", save),
        ("update", lambda: st.update_products([{"id": live[0], "title": "memo"}])),
        ("delete", delete),
        ("compact", st.compact),
        ("rollback", lambda: st.table.rollback(marks["before_compact"])),
        ("expire", lambda: st.table.expire_snapshots(keep_last=2)),
    ]
    for name, step in steps:
        step()
        assert _memo_paths(st) <= _head_files(st), name
        warm = _reads(st, live)
        assert _memo_paths(st) and _memo_paths(st) <= _head_files(st), name
        st.table._memo.retain([])  # cleared: every file decodes again
        assert _reads(st, live) == warm, name
        assert _reads(_same_table(st, forced=False), live) == warm, name
    assert st.get_product(live[0])["title"] == "memo"
    assert st.tiers["driver"] >= 3 + 4 * len(steps)
    assert not any(k.startswith("spark") and k != "spark:empty" for k in st.tiers)


def test_memo_drops_a_file_its_commit_drops(spark, tmp_path):
    st, ids = _seeded_store(spark, tmp_path / "wh")
    st.get_product(ids[0])
    home = st._buckets_of([ids[0]]).pop()
    old = {f for f in _memo_paths(st) if st.table._file_bucket(f) == home}
    assert old
    st.delete_products([ids[0]])  # rewrites the bucket: its old file leaves
    assert not old & _head_files(st)
    assert not old & _memo_paths(st)
    assert _memo_paths(st) <= _head_files(st)


def test_memo_holds_its_byte_cap(spark, tmp_path, monkeypatch):
    """The memo's Arrow bytes never pass FILE_MEMO_BYTES: least recently
    read files leave first, a file over the cap on its own is never kept,
    and reads are the same under any cap."""
    from crawl4ai_llm_spark import catalog

    st, ids = _seeded_store(spark, tmp_path / "wh")
    want = _reads(st, ids)
    entries = st.table._memo.entries
    assert len(entries) == 4
    sizes = sorted(e[2] for e in entries.values())
    assert st.table._memo.nbytes == sum(sizes) <= catalog.FILE_MEMO_BYTES
    for cap, kept in ((sizes[-1] + sizes[0], (1, 2)), (sizes[0] - 1, (0, 0))):
        monkeypatch.setattr(catalog, "FILE_MEMO_BYTES", cap)
        small = _same_table(st, forced=False)
        memo = small.table._memo
        for _ in range(3):
            assert _reads(small, ids) == want
            assert memo.nbytes == sum(e[2] for e in memo.entries.values()) <= cap
            assert kept[0] <= len(memo.entries) <= kept[1]
    # a file too big to keep leaves the entries already held in place
    import pyarrow as pa

    memo = catalog._FileMemo()
    little, big = pa.table({"x": [1]}), pa.table({"x": list(range(1000))})
    monkeypatch.setattr(catalog, "FILE_MEMO_BYTES", big.nbytes - 1)
    memo.put("little", little, little)
    memo.put("big", big, big)
    assert list(memo.entries) == ["little"] and memo.nbytes == little.nbytes


def test_second_store_sees_the_first_stores_writes(spark, tmp_path):
    """Two stores over one warehouse, both memos warm: what one commits,
    the other reads at once, and the reader's memo sheds the files those
    commits dropped."""
    a, ids = _seeded_store(spark, tmp_path / "wh")
    b = _same_table(a, forced=False)
    _reads(a, ids)
    _reads(b, ids)
    rng = random.Random(17)
    new = b.save_products([_product(rng, 400 + k) for k in range(3)])
    b.update_products([{"id": ids[0], "title": "from b"}])
    b.delete_products([ids[1]])
    live = [i for i in ids + new if i != ids[1]]
    got = _reads(a, live)
    assert got == _reads(_same_table(a, forced=False), live)
    assert a.get_product(ids[0])["title"] == "from b"
    assert a.list_products(page_size=1000).total == len(live)
    with pytest.raises(ProductNotFoundError):
        a.get_product(ids[1])
    assert _memo_paths(a) <= _head_files(a)


def test_memo_stays_consistent_under_threads(monkeypatch):
    """Threads reading one store share its memo: with more threads than
    cores and a short switch interval, the byte count always equals the
    entries' sizes and never passes the cap."""
    import sys
    import threading

    import pyarrow as pa

    from crawl4ai_llm_spark import catalog

    tables = [pa.table({"x": list(range(50 * (k % 7 + 1)))}) for k in range(40)]
    monkeypatch.setattr(catalog, "FILE_MEMO_BYTES", sum(t.nbytes for t in tables[:12]))
    memo = catalog._FileMemo()
    errors: list = []

    def work(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(2000):
                k = rng.randrange(len(tables))
                if rng.random() < 0.1:
                    memo.retain([f"f{j}" for j in rng.sample(range(len(tables)), 20)])
                elif memo.get(f"f{k}") is None:
                    memo.put(f"f{k}", tables[k], tables[k])
        except Exception as e:  # reported below: a thread's error is not raised
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    assert memo.nbytes == sum(e[2] for e in memo.entries.values()) <= catalog.FILE_MEMO_BYTES
